package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{aggregate, array, broadcast, ceil, col, expr, explode, collect_list, concat, concat_ws, conv, corr, count, countDistinct, floor, greatest, least, length, lit, log, lower, lpad, max, md5, round, row_number, size, slice, sort_array, split, struct, substring, sum, transform, trim, upper, when}
import graft.Tables
import graft.ext.{Bpe, Dedup, Similarity, TextOps}

/** [EXT] training-data-pipeline queries over `documents`/`embeddings`:
  * dedup (exact / Jaccard / MinHash-LSH / SimHash / cosine), similarity
  * search, and text analysis. Every hash is md5-derived so the DuckDB
  * oracle reproduces values bit-for-bit. */
object ExtQueries {

  /** DuckDB oracle for `sim_mmr_rerank`: the greedy MMR selection
    * UNROLLED into k CTE steps (greedy is sequentially data-dependent
    * — each pick changes every remaining score — so it cannot be one
    * relational expression; with k fixed, k plain SELECTs replay it
    * exactly). The float constants are CAST to DOUBLE so both engines
    * run the identical IEEE ops: DuckDB decimal literals would make
    * (1 − 0.7) an exact decimal 0.3 where Scala's `1 - lam` is
    * 0.30000000000000004. */
  private def mmrOracleSql(k: Int, pool: Int): String = {
    val mu = "(CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    val steps = (2 to k).map { i =>
      s"""s$i AS (SELECT q_id, n_id, rel, score FROM (
         |    SELECT g.q_id, g.n_id, g.rel, g.score,
         |      row_number() OVER (PARTITION BY g.q_id
         |        ORDER BY g.score DESC, g.n_id) AS rn
         |    FROM (SELECT c.q_id, c.n_id, c.rel,
         |            round(CAST(0.7 AS DOUBLE) * c.rel
         |                  - $mu * max(p.sim), 6) AS score
         |          FROM cand c
         |          JOIN p ON p.q_id = c.q_id AND p.pa = c.n_id
         |          JOIN sel${i - 1} sp ON sp.q_id = p.q_id AND sp.n_id = p.pb
         |          WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
         |                            WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
         |          GROUP BY c.q_id, c.n_id, c.rel) g) WHERE rn = 1),
         |sel$i AS (SELECT q_id, n_id FROM sel${i - 1}
         |          UNION ALL SELECT q_id, n_id FROM s$i)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val union = (1 to k).map(i =>
      s"SELECT q_id, CAST($i AS BIGINT) AS step, n_id AS doc_id, rel, score FROM s$i")
      .mkString("\n      UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cs AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |         list_cosine_similarity(q.v, e.v) AS c
       |       FROM e q JOIN e ON q.vec_id < 5 AND e.vec_id != q.vec_id),
       |cr AS (SELECT q_id, n_id, round(c, 5) AS rel,
       |         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn
       |       FROM cs),
       |cand AS (SELECT q_id, n_id, rel FROM cr WHERE rn <= $pool),
       |p AS (SELECT a.q_id, a.n_id AS pa, b.n_id AS pb,
       |        round(list_cosine_similarity(av.v, bv.v), 5) AS sim
       |      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id != b.n_id
       |      JOIN e av ON av.vec_id = a.n_id
       |      JOIN e bv ON bv.vec_id = b.n_id),
       |s1 AS (SELECT q_id, n_id, rel,
       |         round(CAST(0.7 AS DOUBLE) * rel, 6) AS score
       |       FROM (SELECT q_id, n_id, rel,
       |               row_number() OVER (PARTITION BY q_id
       |                 ORDER BY round(CAST(0.7 AS DOUBLE) * rel, 6) DESC,
       |                          n_id) AS rn
       |             FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT q_id, n_id FROM s1)$steps
       |SELECT q_id, step, doc_id, rel, score FROM (
       |      $union)
       |ORDER BY q_id, step""".stripMargin
  }

  /** Shared DuckDB CTEs: distinct 3-word shingles per doc. */
  private val shingleCte =
    """toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
      |       FROM toks, LATERAL (SELECT unnest(range(len(t)-2)) AS i) u
      |       WHERE len(t) >= 3)""".stripMargin

  /** Shared DuckDB CTEs: 64-bit simhash per doc from token md5 nibbles.
    * Bit 63 lands on BIGINT's sign bit; DuckDB overflow-checks `1<<63`,
    * so that bit is added as the Long.MinValue literal — the same
    * two's-complement pattern Spark's shiftleft(1L, 63) produces. */
  private val simhash64Cte =
    """tk64 AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
      |bits64 AS (SELECT doc_id, b,
      |             CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), b//4 + 1, 1)) - 1) >> (b % 4)) & 1 = 1
      |                  THEN 1 ELSE -1 END AS v
      |           FROM tk64, (SELECT unnest(range(64)) AS b)),
      |votes64 AS (SELECT doc_id, b, sum(v) AS sv FROM bits64 GROUP BY 1, 2),
      |sh64 AS (SELECT doc_id,
      |           CAST(sum(CASE WHEN sv <= 0 THEN 0
      |                         WHEN b = 63 THEN (-9223372036854775807 - 1)
      |                         ELSE (1::BIGINT << b) END) AS BIGINT) AS simhash
      |         FROM votes64 GROUP BY doc_id)""".stripMargin

  /** Shared DuckDB CTEs: 32-bit simhash per doc from token md5 nibbles. */
  private val simhashCte =
    """tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
      |bits AS (SELECT doc_id, b,
      |           CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), b//4 + 1, 1)) - 1) >> (b % 4)) & 1 = 1
      |                THEN 1 ELSE -1 END AS v
      |         FROM tk, (SELECT unnest(range(32)) AS b)),
      |votes AS (SELECT doc_id, b, sum(v) AS sv FROM bits GROUP BY 1, 2),
      |sh32 AS (SELECT doc_id,
      |           CAST(sum(CASE WHEN sv > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |         FROM votes GROUP BY doc_id)""".stripMargin

  /** Shared DuckDB CTEs: winnowed-fingerprint span candidates →
    * per-pair maximal shared-gram islands `sp` (id_a, id_b,
    * span_start, span_len ≥ 30) plus the canonical-text CTE `c` —
    * byte-identical semantics to [[graft.ext.Dedup.duplicatedSpans]]'
    * banding + kernel walk. Shared by the span-pair diagnosis query
    * and the trim-spans intervention query. */
  private val spanCte =
    s"""c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |           FROM documents),
       |g AS (SELECT doc_id, i,
       |        ${(0 until 8).map(j => s"CAST(ascii(substr(t, CAST(i + $j AS INT), 1)) AS BIGINT) * ${math.pow(31, 7 - j).toLong}").mkString(" + ")} AS hv
       |      FROM c, LATERAL (SELECT unnest(range(1, length(t) - 6)) AS i) u
       |      WHERE length(t) >= 8),
       |wm AS (SELECT doc_id, i, hv,
       |         min(hv) OVER (PARTITION BY doc_id ORDER BY i
       |                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
       |       FROM g),
       |sel AS (SELECT DISTINCT doc_id, hv FROM wm WHERE hv = wmin),
       |dfc AS (SELECT hv, count(*) AS nfp FROM sel GROUP BY hv),
       |selr AS (SELECT sel.doc_id, sel.hv FROM sel JOIN dfc USING (hv) WHERE nfp <= 100),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM selr a JOIN selr b ON a.hv = b.hv AND a.doc_id < b.doc_id),
       |hb AS (SELECT DISTINCT doc_id, hv FROM g),
       |shp AS (SELECT cd.id_a, cd.id_b, g.i AS pos
       |        FROM cand cd JOIN g ON g.doc_id = cd.id_a
       |        JOIN hb ON hb.doc_id = cd.id_b AND hb.hv = g.hv),
       |isl AS (SELECT id_a, id_b, pos,
       |          pos - row_number() OVER (PARTITION BY id_a, id_b ORDER BY pos) AS grp
       |        FROM shp),
       |sp AS (SELECT id_a, id_b, min(pos) AS span_start,
       |         count(*) + 7 AS span_len
       |       FROM isl GROUP BY id_a, id_b, grp
       |       HAVING count(*) + 7 >= 30)""".stripMargin

  /** One shingling pass per (session, dir), shared by the Jaccard and
    * MinHash-LSH queries (S3 memoization, bounded LRU). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "sh3", Nil, dir)(
      TextOps.shingles(Tables.documents(s, dir), "doc_id", "text", 3))

  /** One (source, lang)-keyed shingling pass per (session, dir),
    * shared by the HLL overlap matrix and the sketch-rollup audit. */
  private def srcShingles(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "shsl3", Nil, dir)(
      TextOps.shinglesKeyed(Tables.documents(s, dir),
        Seq("source", "lang"), "text", 3))

  /** The simulated "today" snapshot (drops ids %13, edits %17, adds
    * %31 clones) and its per-id diff status vs the base corpus —
    * Memo-shared by the standalone diff query and the refresh
    * pipeline. Returns (doc_id, status, text) where text is the NEW
    * snapshot's text (null for removed docs). */
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "snapdiff", Nil, dir) {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val d = col("doc_id")
      val newSnap = docs.filter(d % 13 =!= 0)
        .withColumn("text", when(d % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(d % 31 === 0)
          .select((d + 1000000L).as("doc_id"),
            concat(lit("new doc "), col("text")).as("text")))
      TextOps.corpusDiff(docs, newSnap, "doc_id", "text")
        .join(newSnap.withColumnRenamed("text", "__nt"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("status"), col("__nt").as("text"))
    }

  /** One MinHash-LSH pair pass per (session, dir) — shared by the pair
    * query, the group-closure queries, the split-leakage audit, and
    * the source-overlap matrix, which would otherwise each run the
    * whole signature + band-join + verify pipeline. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "mhp", Nil, dir)(
      Dedup.minhashLshPairsFrom(docShingles(s, dir), "doc_id", 8, 0.5))

  /** One cosine-LSH pair pass per (session, dir) — shared by the pair
    * query and the semantic group-closure query. */
  private def cosinePairs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "coslshp", Nil, dir)(
      Dedup.cosineLshPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        0.45, nBits = 30, rowsPerBand = 5))

  /** The NB classifier score frame both classifier queries consume —
    * ONE definition so their Memo keys coincide by construction. */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labels = TextOps.quality(docs, "doc_id", "text")
      .select(col("doc_id"), (col("stopword_ratio") >= 0.03).as("label"))
    TextOps.nbQuality(docs, "doc_id", "text", labels)
  }

  /** Shared DuckDB CTEs: cosine-LSH candidate pairs ≥ 0.45 over
    * md5-derived signed-random-projection signatures (30 bits, 6 bands
    * of 5) — byte-identical to [[graft.ext.Dedup.cosineLshPairs]]. */
  private val cosineLshCte =
    """dims AS (SELECT max(len(CAST(embedding AS DOUBLE[]))) AS d FROM embeddings),
      |w AS (SELECT b, i,
      |             sum((strpos('0123456789abcdef', substr(md5(b::VARCHAR || '|' || i::VARCHAR), j+1, 1)) - 1) * power(16, 7-j)) / 2147483648.0 - 1.0 AS wt
      |           FROM (SELECT unnest(range(30)) AS b), (SELECT unnest(range((SELECT d FROM dims))) AS i), (SELECT unnest(range(8)) AS j)
      |           GROUP BY b, i),
      |wl AS (SELECT b, list(wt ORDER BY i) AS wv FROM w GROUP BY b),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sig AS (SELECT e.vec_id, wl.b,
      |          CASE WHEN list_dot_product(e.v, wl.wv) > 0 THEN 1 ELSE 0 END AS bit
      |        FROM e CROSS JOIN wl),
      |bands AS (SELECT vec_id, b // 5 AS band,
      |            CAST(sum(bit << (b % 5)) AS BIGINT) AS key
      |          FROM sig GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |         FROM bands a JOIN bands b
      |         ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      |cpairs AS (SELECT c.id_a, c.id_b,
      |             round(list_cosine_similarity(x.v, y.v), 5) AS cosine
      |           FROM cand c JOIN e x ON x.vec_id = c.id_a
      |           JOIN e y ON y.vec_id = c.id_b
      |           WHERE list_cosine_similarity(x.v, y.v) >= 0.45)""".stripMargin

  /** The corpus plus 25 planted near-duplicates: vec_id < 25 copied to
    * vec_id + 10000 with deterministic multiplicative md5 noise
    * (x · (1 + 0.05·w), w = first-8-hex(md5("p|id|i"))/2³¹ − 1 — the
    * oracle-reproducible analogue of the hyperplane weights), cosine to
    * the original ≈ 0.9996. The corpus's natural max pairwise cosine is
    * ~0.51, so a production-threshold (≥ 0.9) query needs planted
    * support to demonstrate recall. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // noise FIRST, id shift in a separate projection: in one select the
    // lambda's col("vec_id") would resolve to the (vec_id + 10000)
    // LATERAL alias, not the input column — keying the noise on the
    // shifted id and silently diverging from the oracle
    val planted = e.filter(col("vec_id") < 25)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(1.0) + lit(0.05) *
            (conv(substring(md5(concat_ws("|", lit("p"), col("vec_id"), i)), 1, 8), 16, 10)
              .cast("double") / lit(2147483648.0) - 1))).as("embedding"))
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    e.unionByName(planted)
  }

  /** Shared DuckDB CTEs: the planted-union corpus (mirrors
    * [[plantedEmbeddings]]) through production-band cosine LSH — 48
    * bits, 6 bands of 8 — at threshold 0.9. */
  private val cosineLshProdCte =
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dims2 AS (SELECT max(len(v)) AS d FROM base),
      |pwt AS (SELECT vec_id, i,
      |          sum((strpos('0123456789abcdef', substr(md5('p|' || vec_id || '|' || i), j+1, 1)) - 1) * power(16, 7-j)) / 2147483648.0 - 1.0 AS wt
      |        FROM (SELECT vec_id FROM base WHERE vec_id < 25),
      |             (SELECT unnest(range((SELECT d FROM dims2))) AS i),
      |             (SELECT unnest(range(8)) AS j)
      |        GROUP BY vec_id, i),
      |pl AS (SELECT b.vec_id + 10000 AS vec_id,
      |              list(b.v[p.i+1] * (1 + 0.05 * p.wt) ORDER BY p.i) AS v
      |       FROM base b JOIN pwt p ON p.vec_id = b.vec_id
      |       GROUP BY b.vec_id),
      |e2 AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
      |w2 AS (SELECT b, i,
      |         sum((strpos('0123456789abcdef', substr(md5(b::VARCHAR || '|' || i::VARCHAR), j+1, 1)) - 1) * power(16, 7-j)) / 2147483648.0 - 1.0 AS wt
      |       FROM (SELECT unnest(range(48)) AS b), (SELECT unnest(range((SELECT d FROM dims2))) AS i), (SELECT unnest(range(8)) AS j)
      |       GROUP BY b, i),
      |wl2 AS (SELECT b, list(wt ORDER BY i) AS wv FROM w2 GROUP BY b),
      |sig2 AS (SELECT e2.vec_id, wl2.b,
      |           CASE WHEN list_dot_product(e2.v, wl2.wv) > 0 THEN 1 ELSE 0 END AS bit
      |         FROM e2 CROSS JOIN wl2),
      |bands2 AS (SELECT vec_id, b // 8 AS band,
      |             CAST(sum(bit << (b % 8)) AS BIGINT) AS key
      |           FROM sig2 GROUP BY 1, 2),
      |cand2 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |          FROM bands2 a JOIN bands2 b
      |          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      |cpairs2 AS (SELECT c.id_a, c.id_b,
      |              round(list_cosine_similarity(x.v, y.v), 5) AS cosine
      |            FROM cand2 c JOIN e2 x ON x.vec_id = c.id_a
      |            JOIN e2 y ON y.vec_id = c.id_b
      |            WHERE list_cosine_similarity(x.v, y.v) >= 0.9)""".stripMargin

  val all: Seq[Q] = Seq(

    // Exact dedup: one shuffle on md5(text)
    Q("dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("h"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count
             |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin)),

    // Exact 3-gram Jaccard near-dup pairs. Candidates come from the
    // inverted-index join over shingles with df ≤ 100 (hot-shingle skew
    // guard — a no-op on this corpus, max df is ~25 at sf0.1, but the
    // kill-switch that keeps the plan alive on real text at scale);
    // Jaccard itself is exact over all shingles.
    Q("dedup_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairsFrom(docShingles(s, dir), "doc_id", 0.5, 100)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $shingleCte,
              |dfr AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
              |rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c <= 100),
              |hot AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c > 100),
              |ri AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ir
              |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2),
              |hi AS (SELECT ri.id_a, ri.id_b, count(*) AS ih
              |       FROM ri JOIN hot x ON x.doc_id = ri.id_a
              |       JOIN hot y ON y.doc_id = ri.id_b AND y.s = x.s
              |       GROUP BY 1, 2),
              |inter AS (SELECT ri.id_a, ri.id_b, ir + coalesce(ih, 0) AS i
              |          FROM ri LEFT JOIN hi USING (id_a, id_b)),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
              |SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
              |FROM inter JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |WHERE i / (na.n + nb.n - i) >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // Asymmetric containment |A∩B|/min(|A|,|B|) ≥ 0.8: doc-inside-doc
    // duplication (wholesale quoting, crawl concatenations) that
    // symmetric Jaccard misses when sizes differ. Shares the shingle
    // pass and the inverted-index candidate machinery with the Jaccard
    // query.
    Q("dedup_containment_pairs",
      (s, dir) => Dedup.containmentPairsFrom(docShingles(s, dir), "doc_id", 0.8, 100)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $shingleCte,
              |dfr AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
              |rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c BETWEEN 2 AND 100),
              |hot AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c > 100),
              |ri AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ir
              |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2),
              |hi AS (SELECT ri.id_a, ri.id_b, count(*) AS ih
              |       FROM ri JOIN hot x ON x.doc_id = ri.id_a
              |       JOIN hot y ON y.doc_id = ri.id_b AND y.s = x.s
              |       GROUP BY 1, 2),
              |inter AS (SELECT ri.id_a, ri.id_b, ir + coalesce(ih, 0) AS i
              |          FROM ri LEFT JOIN hi USING (id_a, id_b)),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
              |SELECT id_a, id_b, round(i / least(na.n, nb.n), 6) AS containment
              |FROM inter JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |WHERE i / least(na.n, nb.n) >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    // Substring-level duplicated-SPAN extraction (Lee et al. 2022
    // granularity): WHERE the duplication lives, not just that a pair
    // is similar — maximal shared char runs ≥ 30 between candidate
    // pairs from the winnowed-fingerprint inverted index. The
    // winnowing guarantee (a shared run of ≥ w+k−1 chars shares a
    // fingerprint) makes candidate generation lossless above the span
    // floor, modulo the same df ≤ 100 hot-key cap as the Jaccard
    // family.
    Q("dedup_span_pairs",
      (s, dir) => Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $spanCte,
              |agg AS (SELECT id_a, id_b, count(*) AS n_spans,
              |          max(span_len) AS longest_span,
              |          CAST(sum(span_len) AS BIGINT) AS dup_chars
              |        FROM sp GROUP BY 1, 2)
              |SELECT a.id_a AS id_a, a.id_b AS id_b, a.n_spans, a.longest_span,
              |       min(s.span_start) AS longest_start, a.dup_chars
              |FROM agg a JOIN sp s ON s.id_a = a.id_a AND s.id_b = a.id_b
              |  AND s.span_len = a.longest_span
              |GROUP BY 1, 2, 3, 4, 6 ORDER BY 1, 2""".stripMargin)),

    // The Lee et al. 2022 INTERVENTION, not just the diagnosis: trim
    // the longest duplicated span from the later doc of each span
    // pair, leaving the earlier doc's copy as the corpus's single
    // copy. One surgery per victim doc (longest span, ties → smallest
    // source id); trimmed_fp is the keep-list handle for the curated
    // rewrite.
    Q("text_trim_spans",
      (s, dir) => Dedup.trimSpans(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $spanCte,
              |agg AS (SELECT id_a, id_b, max(span_len) AS longest_span
              |        FROM sp GROUP BY 1, 2),
              |pairs AS (SELECT a.id_a, a.id_b, a.longest_span,
              |            min(s.span_start) AS longest_start
              |          FROM agg a JOIN sp s ON s.id_a = a.id_a AND s.id_b = a.id_b
              |            AND s.span_len = a.longest_span
              |          GROUP BY 1, 2, 3),
              |best AS (SELECT id_b, id_a, longest_start, longest_span,
              |           row_number() OVER (PARTITION BY id_b
              |             ORDER BY longest_span DESC, id_a, longest_start) AS rk
              |         FROM pairs),
              |tr AS (SELECT b.id_b AS doc_id, b.id_a AS src_id,
              |         b.longest_span AS span_len, length(cb.t) AS orig_len,
              |         replace(cb.t, substr(ca.t, CAST(b.longest_start AS INT),
              |           CAST(b.longest_span AS INT)), '') AS trimmed
              |       FROM best b JOIN c ca ON ca.doc_id = b.id_a
              |       JOIN c cb ON cb.doc_id = b.id_b WHERE b.rk = 1)
              |SELECT doc_id, src_id, span_len,
              |       CAST(orig_len AS BIGINT) AS orig_len,
              |       CAST(length(trimmed) AS BIGINT) AS trimmed_len,
              |       md5(trimmed) AS trimmed_fp
              |FROM tr ORDER BY doc_id""".stripMargin)),

    // Split LEAKAGE audit: near-dup pairs that straddle the
    // train/val/test boundary — the eval-integrity check a pipeline
    // runs after splitting, since a val doc whose near-dup sits in
    // train silently inflates eval scores. Rides the Memo'd minhash
    // pair pass; two broadcast-sized split joins, no new corpus
    // shuffle.
    Q("text_split_leakage",
      (s, dir) => {
        val splits = TextOps.splitAssign(Tables.documents(s, dir), "doc_id")
          .select(col("doc_id"), col("split"))
        minhashPairs(s, dir)
          .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
            col("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b,
              |            round(i / (na.n + nb.n - i), 6) AS jaccard
              |          FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |sp AS (SELECT doc_id,
              |    CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |           substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |         FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
              |  FROM documents),
              |spl AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
              |          WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
              |        FROM sp)
              |SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b, p.jaccard
              |FROM pairs p JOIN spl a ON a.doc_id = p.id_a
              |JOIN spl b ON b.doc_id = p.id_b
              |WHERE a.split != b.split ORDER BY p.id_a, p.id_b""".stripMargin)),

    // Cross-source duplication matrix: near-dup pair counts and mean
    // similarity per (source_a, source_b) — which feeds are redundant
    // with which (a mirror site, a re-crawl, a scraped aggregator).
    // Third consumer of the one Memo'd minhash pair pass.
    Q("text_source_overlap",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        minhashPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")), "id_b")
          .groupBy(least(col("source_a"), col("source_b")).as("src_1"),
            greatest(col("source_a"), col("source_b")).as("src_2"))
          // mean over EXACT integer micro-jaccards (values are 6dp by
          // construction), not a float sum — partition-order free
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(round(col("jaccard") * 1e6, 0).cast("long"))
              / (count(lit(1)) * lit(1e6)), 6).as("mean_jaccard"))
          .orderBy("src_1", "src_2")
      },
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b,
              |            round(i / (na.n + nb.n - i), 6) AS jaccard
              |          FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5)
              |SELECT least(a.source, b.source) AS src_1,
              |       greatest(a.source, b.source) AS src_2,
              |       count(*) AS n_pairs,
              |       round(CAST(sum(CAST(round(p.jaccard * 1000000, 0) AS BIGINT)) AS BIGINT)
              |         / (count(*) * 1000000.0), 6) AS mean_jaccard
              |FROM pairs p JOIN documents a ON a.doc_id = p.id_a
              |JOIN documents b ON b.doc_id = p.id_b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Cross-source VOCABULARY overlap without a corpus self-join:
    // per-source HLL sketches (Datasketches, lgK=16) + pairwise
    // inclusion-exclusion — the sketch path scans once and moves only
    // |sources| × 64 KB; the exact columns are the oracle harness and
    // the boolean pins the estimate within max(5, 5% of union). One
    // source-keyed shingle pass, Memo'd (shared across bench retries).
    Q("profile_hll_overlap",
      (s, dir) => TextOps.sourceVocabOverlap(
          srcShingles(s, dir).select("source", "s"), "source")
        .orderBy("source_a", "source_b"),
      Some("""WITH toks AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
             |          FROM documents),
             |sh AS (SELECT DISTINCT source, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
             |       FROM toks, LATERAL (SELECT unnest(range(len(t)-2)) AS i) u
             |       WHERE len(t) >= 3),
             |v AS (SELECT source, count(*) AS vocab FROM sh GROUP BY source),
             |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS overlap
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
             |      GROUP BY 1, 2),
             |g AS (SELECT va.source AS source_a, vb.source AS source_b,
             |             va.vocab AS vocab_a, vb.vocab AS vocab_b
             |      FROM v va JOIN v vb ON va.source < vb.source)
             |SELECT g.source_a, g.source_b,
             |  coalesce(p.overlap, 0) AS overlap,
             |  g.vocab_a + g.vocab_b - coalesce(p.overlap, 0) AS union_sz,
             |  TRUE AS sketch_ok
             |FROM g LEFT JOIN p ON p.source_a = g.source_a AND p.source_b = g.source_b
             |ORDER BY g.source_a, g.source_b""".stripMargin)),

    // Sketch-rollup mergeability: partial HLL sketches per
    // (source, lang) cell unioned along lang answer the per-source
    // distinct-vocabulary question without rescanning — the
    // incremental rollup-table pattern at 100 TB. Booleans pin both
    // the rolled union and a direct source sketch within max(5, 3%)
    // of exact. Shares the Memo'd (source, lang) shingle pass with
    // the overlap matrix.
    Q("profile_hll_rollup",
      (s, dir) => TextOps.sourceVocabRollup(
          srcShingles(s, dir), "source", "lang")
        .orderBy("source"),
      Some("""WITH toks AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
             |          FROM documents),
             |sh AS (SELECT DISTINCT source, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS s
             |       FROM toks, LATERAL (SELECT unnest(range(len(t)-2)) AS i) u
             |       WHERE len(t) >= 3)
             |SELECT source, count(*) AS vocab,
             |  TRUE AS rollup_ok, TRUE AS direct_ok
             |FROM sh GROUP BY source ORDER BY source""".stripMargin)),

    // Quality-aware dedup: the survivor of each near-dup cluster is
    // the highest-quality member (stopword-ratio score, ties → smaller
    // id), not the smallest id — first-crawled copies are often the
    // worst ones. Shares the Memo'd minhash pair pass with
    // dedup_groups; one extra label-keyed join.
    Q("dedup_keep_best",
      (s, dir) => {
        val scored = TextOps.quality(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("stopword_ratio"))
        Dedup.dedupGroupsBest(scored, "doc_id", "stopword_ratio",
            minhashPairs(s, dir))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e.b FROM reach rc JOIN edges e ON rc.r = e.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id),
              |q AS (SELECT doc_id,
              |        round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |            w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |          / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS score
              |      FROM documents),
              |g AS (SELECT d.doc_id,
              |        coalesce(least(l.m, d.doc_id), d.doc_id) AS group_id, q.score
              |      FROM documents d JOIN q USING (doc_id)
              |      LEFT JOIN lab l ON l.id = d.doc_id),
              |b AS (SELECT group_id, doc_id AS keep_id,
              |        row_number() OVER (PARTITION BY group_id
              |          ORDER BY score DESC, doc_id) AS rk
              |      FROM g)
              |SELECT g.doc_id, g.group_id, g.score, b.keep_id,
              |       (g.doc_id = b.keep_id) AS keep
              |FROM g JOIN (SELECT group_id, keep_id FROM b WHERE rk = 1) b
              |  USING (group_id)
              |ORDER BY g.doc_id""".stripMargin)),

    // Dedup YIELD report: per source, docs/tokens surviving (a) exact
    // md5 dedup and (b) near-dup closure — the before/after accounting
    // every curation run publishes. Fourth consumer of the Memo'd
    // minhash pair pass; the exact stage is one extra md5 groupBy.
    // Cross-source near-dup audit MATRIX: MinHash-LSH pair counts per
    // unordered source pair — the artifact that shows WHICH sources
    // duplicate which (mirror-heavy pairs get a dedup pass ordered
    // first; a source near-dupping everything is a crawl bug). Fifth
    // consumer of the Memo'd minhash pair pass; the join against the
    // (doc_id, source) projection is two id-equi-joins, pairs never
    // fan out.
    Q("dedup_source_matrix",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        minhashPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5)
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       count(*) AS n_pairs
              |FROM pairs JOIN documents da ON da.doc_id = pairs.id_a
              |JOIN documents db ON db.doc_id = pairs.id_b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("text_dedup_yield",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tok = TextOps.tokenCounts(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_ws"))
        val exKeep = docs
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .join(Dedup.exactGroups(docs, "doc_id", "text").select("h", "keep_id"), "h")
          .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("keep_exact"))
        val nearKeep = Dedup.dedupGroups(docs, "doc_id", minhashPairs(s, dir))
          .select(col("doc_id"), col("keep").as("keep_near"))
        docs.select(col("doc_id"), col("source"))
          .join(tok, "doc_id").join(exKeep, "doc_id").join(nearKeep, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_ws")).as("tokens_raw"),
            sum(col("keep_exact").cast("long")).as("docs_after_exact"),
            sum(when(col("keep_exact"), col("n_ws")).otherwise(0L)).as("tokens_after_exact"),
            sum(col("keep_near").cast("long")).as("docs_after_near"),
            sum(when(col("keep_near"), col("n_ws")).otherwise(0L)).as("tokens_after_near"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e.b FROM reach rc JOIN edges e ON rc.r = e.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id),
              |tok AS (SELECT doc_id,
              |          CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_ws
              |        FROM documents),
              |ex AS (SELECT doc_id,
              |         (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS keep_exact
              |       FROM documents),
              |nr AS (SELECT d.doc_id,
              |         (coalesce(least(l.m, d.doc_id), d.doc_id) = d.doc_id) AS keep_near
              |       FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
              |SELECT d.source, count(*) AS n_docs,
              |       CAST(sum(t.n_ws) AS BIGINT) AS tokens_raw,
              |       CAST(sum(CASE WHEN ex.keep_exact THEN 1 ELSE 0 END) AS BIGINT) AS docs_after_exact,
              |       CAST(sum(CASE WHEN ex.keep_exact THEN t.n_ws ELSE 0 END) AS BIGINT) AS tokens_after_exact,
              |       CAST(sum(CASE WHEN nr.keep_near THEN 1 ELSE 0 END) AS BIGINT) AS docs_after_near,
              |       CAST(sum(CASE WHEN nr.keep_near THEN t.n_ws ELSE 0 END) AS BIGINT) AS tokens_after_near
              |FROM documents d JOIN tok t USING (doc_id)
              |JOIN ex USING (doc_id) JOIN nr USING (doc_id)
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // MinHash-LSH: 8 md5-string minhashes in 4 bands of r=2 → candidate
    // pairs share a full band, then exact-Jaccard verification of
    // candidates only (the scale path: pair volume ∝ true near-dups)
    Q("dedup_minhash_lsh",
      (s, dir) => minhashPairs(s, dir).orderBy("id_a", "id_b"),
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b)
              |SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
              |FROM inter JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |WHERE i / (na.n + nb.n - i) >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // LSH quality, measured IN the driver gate: MinHash-LSH pairs vs
    // the exact inverted-index Jaccard ground truth at the same 0.5
    // threshold — recall/precision as an oracle-checked query, not
    // just a spec assertion. Shares both memoized passes; the two
    // pair sets differ only where banding misses a true pair (recall)
    // or a pair's shared shingles are all df-capped hot (precision).
    Q("dedup_lsh_recall",
      (s, dir) => {
        val exact = Dedup.jaccardPairsFrom(docShingles(s, dir), "doc_id", 0.5, 100)
          .select(col("id_a"), col("id_b"))
        val lsh = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nL = lsh.agg(count(lit(1)).as("n_lsh"))
        val nB = exact.join(lsh, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("n_both"))
        nE.crossJoin(nL).crossJoin(nB)
          .withColumn("recall",
            org.apache.spark.sql.functions.round(col("n_both") / col("n_exact"), 6))
          .withColumn("precision",
            org.apache.spark.sql.functions.round(col("n_both") / col("n_lsh"), 6))
      },
      Some(s"""WITH $shingleCte,
              |dfr AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
              |rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c <= 100),
              |hot AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfr USING (s) WHERE c > 100),
              |ri AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ir
              |       FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
              |       GROUP BY 1, 2),
              |hi AS (SELECT ri.id_a, ri.id_b, count(*) AS ih
              |       FROM ri JOIN hot x ON x.doc_id = ri.id_a
              |       JOIN hot y ON y.doc_id = ri.id_b AND y.s = x.s
              |       GROUP BY 1, 2),
              |inter AS (SELECT ri.id_a, ri.id_b, ir + coalesce(ih, 0) AS i
              |          FROM ri LEFT JOIN hi USING (id_a, id_b)),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |ex AS (SELECT id_a, id_b FROM inter
              |       JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |       WHERE i / (na.n + nb.n - i) >= 0.5),
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |mbands AS (SELECT doc_id, h // 2 AS band,
              |             string_agg(mv, '' ORDER BY h) AS key
              |           FROM mh GROUP BY doc_id, h // 2),
              |mcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |          FROM mbands a JOIN mbands b
              |          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |minter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |           FROM mcand c JOIN sh x ON x.doc_id = c.id_a
              |           JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |           GROUP BY 1, 2),
              |lsh AS (SELECT id_a, id_b FROM minter
              |        JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |        WHERE i / (na.n + nb.n - i) >= 0.5)
              |SELECT (SELECT count(*) FROM ex) AS n_exact,
              |       (SELECT count(*) FROM lsh) AS n_lsh,
              |       (SELECT count(*) FROM ex JOIN lsh USING (id_a, id_b)) AS n_both,
              |       round((SELECT count(*) FROM ex JOIN lsh USING (id_a, id_b))
              |             / (SELECT count(*) FROM ex), 6) AS recall,
              |       round((SELECT count(*) FROM ex JOIN lsh USING (id_a, id_b))
              |             / (SELECT count(*) FROM lsh), 6) AS precision""".stripMargin)),

    // The dedup DECISION: transitive closure of the MinHash-LSH pairs →
    // one canonical keep per connected component (keep_id = min doc_id),
    // singletons keep themselves. Pairs alone don't dedup anything; this
    // is the operator a real pipeline ends with. Oracle: DuckDB
    // WITH RECURSIVE reachability closure over the identical pair set.
    Q("dedup_groups",
      (s, dir) => Dedup.dedupGroups(Tables.documents(s, dir), "doc_id",
          minhashPairs(s, dir))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e.b FROM reach rc JOIN edges e ON rc.r = e.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id)
              |SELECT d.doc_id,
              |       coalesce(least(l.m, d.doc_id), d.doc_id) AS keep_id,
              |       (coalesce(least(l.m, d.doc_id), d.doc_id) = d.doc_id) AS keep
              |FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // Chain audit of the dedup closure: per multi-member cluster the
    // max pairwise edit distance (diameter) vs a threshold —
    // transitive closure chains A-B-C together even when (A,C) was
    // never a pair; a diameter far above the pairing threshold means
    // the canonical survivor replaces content it doesn't represent.
    // Pairwise stage joins ON THE CLUSTER LABEL (cost = sum of
    // cluster sizes squared, tiny vs corpus).
    Q("dedup_chain_audit",
      (s, dir) => Dedup.chainAudit(Tables.documents(s, dir), "doc_id",
          "text", minhashPairs(s, dir), 60)
        .orderBy("group_id"),
      Some(s"""WITH RECURSIVE $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e.b FROM reach rc JOIN edges e ON rc.r = e.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id),
              |mem AS (SELECT least(l.m, l.id) AS group_id, d.doc_id AS id, d.text AS t
              |        FROM lab l JOIN documents d ON d.doc_id = l.id),
              |sz AS (SELECT group_id, count(*) AS n_members FROM mem GROUP BY group_id),
              |dm AS (SELECT x.group_id, CAST(max(levenshtein(x.t, y.t)) AS BIGINT) AS diameter
              |       FROM mem x JOIN mem y
              |       ON x.group_id = y.group_id AND x.id < y.id
              |       GROUP BY x.group_id)
              |SELECT sz.group_id, sz.n_members, dm.diameter,
              |  dm.diameter > 60 AS chained
              |FROM sz JOIN dm ON sz.group_id = dm.group_id
              |ORDER BY sz.group_id""".stripMargin)),

    // Edit-distance verify over the banded MinHash candidates: the
    // expensive character-level metric touches ONLY pairs the LSH
    // stage produced (Spark's 3-arg levenshtein early-exits past the
    // threshold)
    Q("dedup_edit_distance",
      (s, dir) => Dedup.editDistancePairs(Tables.documents(s, dir),
          "doc_id", "text", minhashPairs(s, dir), 100)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5)
              |SELECT p.id_a, p.id_b,
              |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
              |FROM pairs p JOIN documents da ON da.doc_id = p.id_a
              |JOIN documents db ON db.doc_id = p.id_b
              |WHERE levenshtein(da.text, db.text) <= 100
              |ORDER BY id_a, id_b""".stripMargin)),

    // INCREMENTAL dedup: docs ≥ 400 are "today's batch", deduped
    // against the immutable corpus (docs < 400) and against themselves
    // — the corpus×corpus quadratic never runs. Per-batch-doc keep/drop
    // with the smallest duplicate partner.
    Q("dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.incrementalDedup(docs.filter(col("doc_id") < 400),
            docs.filter(col("doc_id") >= 400), "doc_id", "text", 3, 8, 0.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS partner, b.doc_id AS doc
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND b.doc_id >= 400
              |         AND (a.doc_id < 400 OR a.doc_id < b.doc_id)),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.doc, c.partner, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.partner
              |          JOIN sh y ON y.doc_id = c.doc AND y.s = x.s
              |          GROUP BY 1, 2),
              |dup AS (SELECT doc, min(partner) AS dup_of FROM inter
              |        JOIN ns na ON na.doc_id = partner
              |        JOIN ns nb ON nb.doc_id = doc
              |        WHERE i / (na.n + nb.n - i) >= 0.5 GROUP BY doc)
              |SELECT d.doc_id, dup.dup_of, (dup.dup_of IS NULL) AS keep
              |FROM documents d LEFT JOIN dup ON dup.doc = d.doc_id
              |WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin)),

    // PERSIST-AND-PROBE dedup — the incremental operator's actual
    // 100-TB deployment shape run end-to-end: the corpus's banded
    // signatures are WRITTEN bucketed by (band, key) once per
    // (session, corpus), and the batch probe reads them co-partitioned
    // (zero Exchange on the corpus side — asserted structurally in
    // BucketingSpec). Identical keep/drop semantics to
    // dedup_incremental, so the same oracle must hash-match.
    Q("dedup_persist_probe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") < 400)
        val db = "graft_probe"
        val name = s"bands_${math.abs(dir.hashCode)}"
        val table = s"$db.$name"
        if (!s.catalog.tableExists(table)) {
          val loc = new java.io.File(
            sys.props("java.io.tmpdir"), "graft_probe_db").getAbsolutePath
          s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
          // a PREVIOUS session's managed-table directory may survive its
          // (in-memory) catalog entry — saveAsTable refuses to create
          // over an existing location, so clear the leftover first
          val p = new org.apache.hadoop.fs.Path(s"$loc/$name")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          Dedup.persistBandedSignatures(corpus, "doc_id", "text", 3, 8, table, 8)
        }
        Dedup.incrementalDedupFrom(s.table(table), corpus,
            docs.filter(col("doc_id") >= 400), "doc_id", "text", 3, 8, 0.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS partner, b.doc_id AS doc
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND b.doc_id >= 400
              |         AND (a.doc_id < 400 OR a.doc_id < b.doc_id)),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.doc, c.partner, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.partner
              |          JOIN sh y ON y.doc_id = c.doc AND y.s = x.s
              |          GROUP BY 1, 2),
              |dup AS (SELECT doc, min(partner) AS dup_of FROM inter
              |        JOIN ns na ON na.doc_id = partner
              |        JOIN ns nb ON nb.doc_id = doc
              |        WHERE i / (na.n + nb.n - i) >= 0.5 GROUP BY doc)
              |SELECT d.doc_id, dup.dup_of, (dup.dup_of IS NULL) AS keep
              |FROM documents d LEFT JOIN dup ON dup.doc = d.doc_id
              |WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin)),

    // Per-doc 32-bit SimHash fingerprints
    Q("dedup_simhash",
      (s, dir) => Dedup.simhash32(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $simhashCte
              |SELECT doc_id, simhash FROM sh32 ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup pairs at Hamming ≤ 1 (vocab overlap in the
    // synthetic corpus correlates fingerprints, so the cutoff is tight)
    Q("dedup_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", 1)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $simhashCte
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sh32 a JOIN sh32 b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
              |ORDER BY id_a, id_b""".stripMargin)),

    // 64-bit SimHash near-dup pairs at Hamming ≤ 3: the corpus-scale
    // fingerprint width (32-bit saturates with birthday collisions at
    // ~10⁹ docs). Candidates via Manku WWW'07 3-of-6 block banding —
    // C(6,3)=20 combo keys of ~32 masked bits, equi-join, never
    // all-pairs — then exact Hamming verification. The oracle verifies
    // the PAIR SET brute-force (banding is recall-lossless for H ≤ 3 by
    // pigeonhole, so the sets must match exactly).
    Q("dedup_simhash64_pairs",
      (s, dir) => Dedup.simhash64Pairs(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $simhash64Cte
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sh64 a JOIN sh64 b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // Embedding-cosine near-dups via signed-random-projection LSH
    // (Charikar 2002): md5-derived hyperplanes → 30-bit signatures →
    // 6 bands of 5 bits → candidates share a full band → exact-cosine
    // verify. Both engines derive identical hyperplanes from md5, so
    // signatures, candidates, and survivors match bit-for-bit. At this
    // corpus's weak 0.45 threshold (≈63°) recall is deliberately
    // partial (7 of 14 brute pairs; ~18% candidate rate) — sign-LSH
    // selectivity grows sharply toward the ≥0.9 cosine regime real
    // near-dup corpora sit in; the planted-pair regime is spec-tested
    // in TextDedupSpec.
    Q("dedup_cosine_lsh",
      (s, dir) => cosinePairs(s, dir).orderBy("id_a", "id_b"),
      Some(s"""WITH $cosineLshCte
              |SELECT id_a, id_b, cosine FROM cpairs
              |ORDER BY id_a, id_b""".stripMargin)),

    // The SAME operator at the parameterization its scaladoc prescribes
    // for corpus scale: 48 signature bits, 6 bands × 8 rows, threshold
    // 0.9 — over the corpus plus 25 planted near-duplicates (the
    // natural max pairwise cosine here is ~0.51, so the production
    // threshold needs planted support). Per-band collision for a
    // planted pair (θ ≈ 1.7°) is ~0.93, so recall over 6 bands is
    // ~1 − 10⁻⁷, while a 0.45-cosine pair collides per-band at ~3% —
    // candidates stay sub-quadratic on a real near-dup corpus. Recall
    // on planted pairs is additionally spec-asserted (TextDedupSpec).
    Q("dedup_cosine_lsh_prod",
      (s, dir) => Dedup.cosineLshPairs(plantedEmbeddings(s, dir), "vec_id",
          "embedding", 0.9, nBits = 48, rowsPerBand = 8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $cosineLshProdCte
              |SELECT id_a, id_b, cosine FROM cpairs2
              |ORDER BY id_a, id_b""".stripMargin)),

    // SEMANTIC dedup end-to-end (SemDeDup-shaped, but with
    // deterministic LSH buckets instead of k-means cells so the oracle
    // reproduces it): cosine-LSH pairs → transitive closure → one
    // canonical keep per embedding-space component. The same
    // pair→closure→keep machinery as dedup_groups, over embedding
    // similarity instead of lexical overlap.
    Q("dedup_cosine_groups",
      (s, dir) => Dedup.dedupGroups(Tables.embeddings(s, dir), "vec_id",
          cosinePairs(s, dir))
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE $cosineLshCte,
              |edges AS (SELECT id_a AS a, id_b AS b FROM cpairs
              |          UNION ALL SELECT id_b, id_a FROM cpairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e2.b FROM reach rc JOIN edges e2 ON rc.r = e2.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id)
              |SELECT d.vec_id,
              |       coalesce(least(l.m, d.vec_id), d.vec_id) AS keep_id,
              |       (coalesce(least(l.m, d.vec_id), d.vec_id) = d.vec_id) AS keep
              |FROM embeddings d LEFT JOIN lab l ON l.id = d.vec_id
              |ORDER BY vec_id""".stripMargin)),

    // SemDeDup with the FULL oracle contract (VERDICT r11 #2): same
    // Memo-shared LSH pair pass + closure as dedup_cosine_groups, but
    // the SemDeDup keep rule — within each eps-group the member with
    // the LOWEST cosine to the group's mean direction survives (the
    // paper's least-prototypical principle, with the group mean as the
    // SQL-expressible prototype; the KMeans-cell variant stays as
    // sem_dedup_kmeans, pinned by sem_dedup_recall + SemDedupSpec).
    Q("sem_dedup",
      (s, dir) => graft.ml.SemDedup.semDedupGroups(
          Tables.embeddings(s, dir), "vec_id", "embedding", cosinePairs(s, dir))
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE $cosineLshCte,
              |edges AS (SELECT id_a AS a, id_b AS b FROM cpairs
              |          UNION ALL SELECT id_b, id_a FROM cpairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e2.b FROM reach rc JOIN edges e2 ON rc.r = e2.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id),
              |u AS (SELECT e.vec_id,
              |        list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS vn,
              |        l.m
              |      FROM e LEFT JOIN lab l ON l.id = e.vec_id
              |      WHERE list_dot_product(e.v, e.v) > 0),
              |dup AS (SELECT vec_id, least(m, vec_id) AS group_id, vn
              |        FROM u WHERE m IS NOT NULL),
              |px AS (SELECT group_id, generate_subscripts(vn, 1) AS pos,
              |         unnest(vn) AS x FROM dup),
              |pm AS (SELECT group_id, pos, avg(x) AS mx FROM px GROUP BY 1, 2),
              |mv AS (SELECT group_id, list(mx ORDER BY pos) AS mvec FROM pm
              |       GROUP BY group_id),
              |cs AS (SELECT d.vec_id, d.group_id,
              |         round(list_dot_product(d.vn, mv.mvec)
              |           / sqrt(list_dot_product(mv.mvec, mv.mvec)), 6) AS cent_sim
              |       FROM dup d JOIN mv USING (group_id)),
              |k AS (SELECT group_id, vec_id AS keep_id,
              |        row_number() OVER (PARTITION BY group_id
              |          ORDER BY cent_sim, vec_id) AS rn
              |      FROM cs)
              |SELECT cs.vec_id, cs.group_id, cs.cent_sim, k.keep_id,
              |       (cs.vec_id = k.keep_id) AS keep
              |FROM cs JOIN k ON k.group_id = cs.group_id AND k.rn = 1
              |UNION ALL
              |SELECT vec_id, vec_id AS group_id, CAST(1.0 AS DOUBLE) AS cent_sim,
              |       vec_id AS keep_id, true AS keep
              |FROM u WHERE m IS NULL
              |ORDER BY vec_id""".stripMargin)),

    // Embedding-cosine near-dup pairs
    Q("dedup_cosine_pairs",
      (s, dir) => Dedup.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_cosine_similarity(a.v, b.v), 5) AS cosine
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin)),

    // Exact cosine top-5 neighbors for query vectors vec_id < 10
    Q("sim_topk_cosine",
      (s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Cross-lingual bitext mining (round 10, [EXT] — Artetxe &
    // Schwenk ACL'19 margin-kNN): best German candidate per English
    // doc, hubness-corrected by both sides' k-nearest averages over
    // the integer-quantized cosine. The oracle replays the integer
    // pipeline through windows; the operator ships heaps + max_by
    // aggregates (no pair-table window shuffle).
    Q("sim_bitext_mine",
      (s, dir) => Similarity.bitextMine(Tables.embeddings(s, dir), "vec_id",
          "embedding",
          Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")),
          "lang", "en", "de", 4, 1.0)
        .orderBy("src_id"),
      Some("""WITH el AS (SELECT em.vec_id AS id,
             |         CAST(em.embedding AS DOUBLE[]) AS v, d.lang
             |       FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
             |       WHERE list_dot_product(CAST(em.embedding AS DOUBLE[]),
             |               CAST(em.embedding AS DOUBLE[])) > 0),
             |sc AS (SELECT s.id AS q_id, t.id AS n_id,
             |         CAST(round(list_cosine_similarity(s.v, t.v) * 1e5)
             |           AS BIGINT) AS c5
             |       FROM el s JOIN el t ON s.lang = 'en' AND t.lang = 'de'),
             |fa AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY q_id),
             |ba AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY n_id),
             |m AS (SELECT sc.q_id, sc.n_id, sc.c5,
             |        2.0 * sc.c5 / (fa.favg + ba.bavg) AS score
             |      FROM sc JOIN fa USING (q_id) JOIN ba USING (n_id)),
             |w AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM m)
             |SELECT q_id AS src_id, n_id AS tgt_id,
             |  CAST(c5 AS DOUBLE) / 1e5 AS cosine,
             |  floor(score * 1e6 + 0.5) / 1e6 AS score
             |FROM w WHERE rn = 1 AND score >= 1.0
             |ORDER BY src_id""".stripMargin)),

    // Intersection bitext mining (round 10 session 3, [EXT]): the
    // high-precision mode — a pair survives only when each side is
    // the other's margin-argmax; both directions read the ONE Memo'd
    // pair table (backward = transpose), so mutual costs one extra
    // tail, never a second cross join.
    Q("sim_bitext_mutual",
      (s, dir) => Similarity.bitextMutual(Tables.embeddings(s, dir), "vec_id",
          "embedding",
          Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")),
          "lang", "en", "de", 4, 1.0)
        .orderBy("src_id"),
      Some("""WITH el AS (SELECT em.vec_id AS id,
             |         CAST(em.embedding AS DOUBLE[]) AS v, d.lang
             |       FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
             |       WHERE list_dot_product(CAST(em.embedding AS DOUBLE[]),
             |               CAST(em.embedding AS DOUBLE[])) > 0),
             |sc AS (SELECT s.id AS q_id, t.id AS n_id,
             |         CAST(round(list_cosine_similarity(s.v, t.v) * 1e5)
             |           AS BIGINT) AS c5
             |       FROM el s JOIN el t ON s.lang = 'en' AND t.lang = 'de'),
             |fa AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY q_id),
             |ba AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY n_id),
             |m AS (SELECT sc.q_id, sc.n_id, sc.c5,
             |        2.0 * sc.c5 / (fa.favg + ba.bavg) AS score
             |      FROM sc JOIN fa USING (q_id) JOIN ba USING (n_id)),
             |w AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM m),
             |fwd AS (SELECT q_id AS src_id, n_id AS tgt_id, c5,
             |          floor(score * 1e6 + 0.5) / 1e6 AS score_fwd
             |        FROM w WHERE rn = 1 AND score >= 1.0),
             |scb AS (SELECT n_id AS q_id, q_id AS n_id, c5 FROM sc),
             |fab AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM scb)
             |       WHERE rn <= 4 GROUP BY q_id),
             |bab AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM scb)
             |       WHERE rn <= 4 GROUP BY n_id),
             |mb AS (SELECT scb.q_id, scb.n_id, scb.c5,
             |        2.0 * scb.c5 / (fab.favg + bab.bavg) AS score
             |      FROM scb JOIN fab USING (q_id) JOIN bab USING (n_id)),
             |wb AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM mb),
             |bwd AS (SELECT q_id AS b_src, n_id AS b_tgt,
             |          floor(score * 1e6 + 0.5) / 1e6 AS score_bwd
             |        FROM wb WHERE rn = 1 AND score >= 1.0)
             |SELECT f.src_id, f.tgt_id, CAST(f.c5 AS DOUBLE) / 1e5 AS cosine,
             |  f.score_fwd, b.score_bwd
             |FROM fwd f JOIN bwd b ON b.b_src = f.tgt_id AND b.b_tgt = f.src_id
             |ORDER BY f.src_id""".stripMargin)),

    // IVF-probed bitext mining HEADLINE tier (round 11, VERDICT r10
    // #6): the 100-TB path — candidates from the shared IVF probe
    // (|src|·cand pairs, probed inverted lists only), margin tail
    // identical to the exact tier. This is the entry the bench times;
    // the exact all-pairs twins above are verify-only ground-truth
    // instruments (Bench.groundTruthTwins), so the standard bench
    // registry run executes NO |src|·|tgt| cross join. Correctness of
    // this tier is pinned by the oracle-green agreement gates below
    // (fit-seeded, deterministic), so the rows-only driver check here
    // is not the only guard.
    Q("sim_bitext_mine_ivf",
      (s, dir) => Similarity.bitextMineIvf(Tables.embeddings(s, dir), "vec_id",
          "embedding",
          Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")),
          "lang", "en", "de", 4, 1.0, cand = 16, nlist = 16, nprobe = 6)
        .orderBy("src_id")),

    Q("sim_bitext_mutual_ivf",
      (s, dir) => Similarity.bitextMutualIvf(Tables.embeddings(s, dir), "vec_id",
          "embedding",
          Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")),
          "lang", "en", "de", 4, 1.0, cand = 16, nlist = 16, nprobe = 6)
        .orderBy("src_id")),

    // IVF-probed MUTUAL bitext honesty gate (round 10 session 3): the
    // high-precision intersection mode over the pruned candidate pool
    // (bitextMutualIvf — both directions' argmax from the SAME probed
    // pool), graded against the exact mutual miner with the usual
    // boolean contract (measured agreement 0.815/0.875/0.715 at
    // sf0.001/0.01/0.1, nprobe 6/16, floor 0.6).
    Q("sim_bitext_mutual_ivf_agreement",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val langs = Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("lang"))
        val exact = Similarity.bitextMutual(emb, "vec_id", "embedding",
            langs, "lang", "en", "de", 4, 1.0)
          .select("src_id", "tgt_id")
        val ivf = Similarity.bitextMutualIvf(emb, "vec_id", "embedding",
            langs, "lang", "en", "de", 4, 1.0,
            cand = 16, nlist = 16, nprobe = 6)
          .select("src_id", "tgt_id")
        val tot = exact.agg(count(lit(1)).as("n_exact"))
        val hit = exact.join(ivf, Seq("src_id", "tgt_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit).select(col("n_exact"),
          (col("n_hit").cast("double")
            / greatest(col("n_exact"), lit(1L)) >= 0.6).as("agree_ok"))
      },
      Some("""WITH el AS (SELECT em.vec_id AS id,
             |         CAST(em.embedding AS DOUBLE[]) AS v, d.lang
             |       FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
             |       WHERE list_dot_product(CAST(em.embedding AS DOUBLE[]),
             |               CAST(em.embedding AS DOUBLE[])) > 0),
             |sc AS (SELECT s.id AS q_id, t.id AS n_id,
             |         CAST(round(list_cosine_similarity(s.v, t.v) * 1e5)
             |           AS BIGINT) AS c5
             |       FROM el s JOIN el t ON s.lang = 'en' AND t.lang = 'de'),
             |fa AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY q_id),
             |ba AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY n_id),
             |m AS (SELECT sc.q_id, sc.n_id, sc.c5,
             |        2.0 * sc.c5 / (fa.favg + ba.bavg) AS score
             |      FROM sc JOIN fa USING (q_id) JOIN ba USING (n_id)),
             |w AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM m),
             |fwd AS (SELECT q_id AS src_id, n_id AS tgt_id
             |        FROM w WHERE rn = 1 AND score >= 1.0),
             |scb AS (SELECT n_id AS q_id, q_id AS n_id, c5 FROM sc),
             |fab AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM scb)
             |       WHERE rn <= 4 GROUP BY q_id),
             |bab AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM scb)
             |       WHERE rn <= 4 GROUP BY n_id),
             |mb AS (SELECT scb.q_id, scb.n_id, scb.c5,
             |        2.0 * scb.c5 / (fab.favg + bab.bavg) AS score
             |      FROM scb JOIN fab USING (q_id) JOIN bab USING (n_id)),
             |wb AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM mb),
             |bwd AS (SELECT q_id AS b_src, n_id AS b_tgt
             |        FROM wb WHERE rn = 1 AND score >= 1.0)
             |SELECT count(*) AS n_exact, true AS agree_ok
             |FROM fwd f JOIN bwd b
             |  ON b.b_src = f.tgt_id AND b.b_tgt = f.src_id""".stripMargin)),

    // IVF-probed bitext honesty gate (round 10 session 3): the pruned
    // mining tier (bitextMineIvf — candidates from the shared IVF
    // probe, |src|·cand pairs instead of |src|·|tgt|) graded against
    // the exact all-pairs miner, same boolean-contract shape as
    // sim_ivf_recall: n_exact is SQL-derivable (the sim_bitext_mine
    // oracle's row count) and agree_ok pins that the pruned tier
    // recovers >= 60% of the exact tier's mined pairs at nprobe 6 of
    // nlist 16 with a 16-candidate heap — a fit-seeded, deterministic
    // contract (measured agreement 0.878 / 0.922 / 0.765 at
    // sf0.001/0.01/0.1; nprobe 4 read 0.603 at sf0.1, too close to
    // the floor to pin — same regime-widening call as
    // sim_ivf_filtered_recall). Agreement is stricter than recall:
    // the pruned backward average can legitimately reorder margins,
    // so a differing mined pair is not necessarily a miss of the
    // probe. A probe/assignment regression flips the boolean and the
    // row hash-fails.
    Q("sim_bitext_ivf_agreement",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val langs = Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("lang"))
        val exact = Similarity.bitextMine(emb, "vec_id", "embedding",
            langs, "lang", "en", "de", 4, 1.0)
          .select("src_id", "tgt_id")
        val ivf = Similarity.bitextMineIvf(emb, "vec_id", "embedding",
            langs, "lang", "en", "de", 4, 1.0,
            cand = 16, nlist = 16, nprobe = 6)
          .select("src_id", "tgt_id")
        val tot = exact.agg(count(lit(1)).as("n_exact"))
        val hit = exact.join(ivf, Seq("src_id", "tgt_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit).select(col("n_exact"),
          (col("n_hit").cast("double")
            / greatest(col("n_exact"), lit(1L)) >= 0.6).as("agree_ok"))
      },
      Some("""WITH el AS (SELECT em.vec_id AS id,
             |         CAST(em.embedding AS DOUBLE[]) AS v, d.lang
             |       FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
             |       WHERE list_dot_product(CAST(em.embedding AS DOUBLE[]),
             |               CAST(em.embedding AS DOUBLE[])) > 0),
             |sc AS (SELECT s.id AS q_id, t.id AS n_id,
             |         CAST(round(list_cosine_similarity(s.v, t.v) * 1e5)
             |           AS BIGINT) AS c5
             |       FROM el s JOIN el t ON s.lang = 'en' AND t.lang = 'de'),
             |fa AS (SELECT q_id, CAST(sum(c5) AS DOUBLE) / count(*) AS favg
             |       FROM (SELECT q_id, c5, row_number() OVER (PARTITION BY q_id
             |               ORDER BY c5 DESC, n_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY q_id),
             |ba AS (SELECT n_id, CAST(sum(c5) AS DOUBLE) / count(*) AS bavg
             |       FROM (SELECT n_id, c5, row_number() OVER (PARTITION BY n_id
             |               ORDER BY c5 DESC, q_id) AS rn FROM sc)
             |       WHERE rn <= 4 GROUP BY n_id),
             |m AS (SELECT sc.q_id, sc.n_id, sc.c5,
             |        2.0 * sc.c5 / (fa.favg + ba.bavg) AS score
             |      FROM sc JOIN fa USING (q_id) JOIN ba USING (n_id)),
             |w AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |        ORDER BY score DESC, n_id) AS rn FROM m)
             |SELECT count(*) AS n_exact, true AS agree_ok
             |FROM w WHERE rn = 1 AND score >= 1.0""".stripMargin)),

    // MMR diversity rerank (round 10 — Carbonell & Goldstein
    // SIGIR'98): greedy λ·rel − (1−λ)·max-sim-to-selected over each
    // query's top-20 pool, k=5, λ=0.7. The RAG-serving face of the
    // dedup tier: near-dup answers crowd a context window the way
    // corpus near-dups waste a training epoch. Greedy is sequentially
    // data-dependent, so the oracle unrolls the k steps into plain
    // CTEs (mmrOracleSql) and replays the selection exactly.
    Q("sim_mmr_rerank",
      (s, dir) => Similarity.mmrRerank(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 5", 5, 20, 0.7)
        .orderBy("q_id", "step"),
      Some(mmrOracleSql(5, 20))),

    // Robust per-dimension stats (round 10, [EXT]): exact lower
    // order-statistic quartiles + IQR per dim — the corruption-proof
    // twin of sim_dim_stats
    Q("sim_dim_robust",
      (s, dir) => Similarity.dimRobustStats(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy("dim"),
      Some("""WITH z AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |         unnest(embedding) AS x
             |       FROM embeddings),
             |l AS (SELECT dim, list(CAST(x AS DOUBLE) ORDER BY CAST(x AS DOUBLE)) AS s
             |      FROM z GROUP BY dim)
             |SELECT CAST(dim AS BIGINT) AS dim, CAST(len(s) AS BIGINT) AS n,
             |  floor(s[(len(s) + 3) // 4] * 1e6 + 0.5) / 1e6 AS q1,
             |  floor(s[(len(s) + 1) // 2] * 1e6 + 0.5) / 1e6 AS median,
             |  floor(s[(3 * len(s) + 3) // 4] * 1e6 + 0.5) / 1e6 AS q3,
             |  floor((s[(3 * len(s) + 3) // 4] - s[(len(s) + 3) // 4]) * 1e6 + 0.5)
             |    / 1e6 AS iqr,
             |  floor((s[(3 * len(s) + 3) // 4] - s[(len(s) + 3) // 4]) * 1e6 + 0.5)
             |    / 1e6 <= 0.0 AS dead
             |FROM l ORDER BY dim""".stripMargin)),

    // Per-dimension embedding statistics: the whitening/pre-processing
    // audit (dead dims, dominant dims, mis-scaled dims) run before
    // fitting quantizers or PCA. Cross-row float sums ride integer
    // micro-quantization (round(x·1e6), round(x²·1e6)) so both
    // engines aggregate exact integers; variance = E[x²] − mean² with
    // mean² an explicit IEEE product, not pow().
    Q("sim_dim_stats",
      (s, dir) => Similarity.dimStats(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy("dim"),
      Some("""WITH z AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |         unnest(embedding) AS x
             |       FROM embeddings),
             |e AS (SELECT dim, CAST(x AS DOUBLE) AS xd FROM z),
             |a AS (SELECT dim, count(*) AS n,
             |        CAST(sum(CAST(round(xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s1,
             |        CAST(sum(CAST(round(xd * xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s2,
             |        min(xd) AS mn0, max(xd) AS mx0
             |      FROM e GROUP BY dim)
             |SELECT dim, n,
             |  round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean,
             |  round(sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n / 1e6
             |    - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))), 6) AS std,
             |  round(mn0, 6) AS mn, round(mx0, 6) AS mx
             |FROM a ORDER BY dim""".stripMargin)),

    // Embedding drift between snapshots (the embedder-migration gate —
    // the production use of dim stats): snapshot B simulates a "new
    // embedder version" by doubling every positive component of one
    // vector in three (a deterministic geometry change whose per-dim
    // magnitude varies with the data), and the audit must flag exactly
    // the dimensions whose mean moved beyond tol × the larger std.
    // Both engines compute the identical micro-quantized stats, so
    // even the boolean verdicts are bit-deterministic.
    Q("sim_dim_drift",
      (s, dir) => {
        val e0 = Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val snapB = e0.withColumn("embedding",
          when(col("vec_id") % 3 === 0,
            transform(col("embedding"), x => when(x > 0, x * 2).otherwise(x)))
            .otherwise(col("embedding")))
        Similarity.dimDrift(e0, snapB, "vec_id", "embedding", 0.12)
          .orderBy("dim")
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |eb AS (SELECT vec_id, CASE WHEN vec_id % 3 = 0
             |         THEN list_transform(v, x -> CASE WHEN x > 0 THEN x * 2 ELSE x END)
             |         ELSE v END AS v FROM e0),
             |za AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS xd FROM e0),
             |zb AS (SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS xd FROM eb),
             |sa AS (SELECT dim, count(*) AS n,
             |         CAST(sum(CAST(round(xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s1,
             |         CAST(sum(CAST(round(xd * xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s2
             |       FROM za GROUP BY dim),
             |sb AS (SELECT dim, count(*) AS n,
             |         CAST(sum(CAST(round(xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s1,
             |         CAST(sum(CAST(round(xd * xd * 1e6, 0) AS BIGINT)) AS BIGINT) AS s2
             |       FROM zb GROUP BY dim),
             |ma AS (SELECT dim, round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean_a,
             |         round(sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n / 1e6
             |           - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))), 6) AS std_a
             |       FROM sa),
             |mb AS (SELECT dim, round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean_b,
             |         round(sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n / 1e6
             |           - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))), 6) AS std_b
             |       FROM sb)
             |SELECT dim, mean_a, mean_b, round(mean_b - mean_a, 6) AS delta_mean,
             |  std_a, std_b,
             |  (abs(mean_b - mean_a) > 0.12 * greatest(std_a, std_b)) AS drifted
             |FROM ma JOIN mb USING (dim) ORDER BY dim""".stripMargin)),

    // Procrustes alignment audit — the REMEDY after sim_dim_drift
    // fires: snapshot B is an EXACT block-Givens rotation of A
    // (c=0.6, s=0.8 — rational literals, engine-identical), so the
    // closed-form theorems hold: fitted W orthogonal, post-alignment
    // residual exactly 0 in micro units, pre-residual > 0 and
    // replayed bit-for-bit by the oracle via the index-ordered
    // micro-quantized fold. Fit = one id join + one 64×64 map-side
    // outer-product pass + a driver SVD; corpus never collects.
    Q("sim_procrustes_align",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val snapB = emb.withColumn("embedding", expr(
          """transform(sequence(0, size(embedding) - 1), d ->
            |  case when d % 2 = 0
            |    then 0.6D * cast(element_at(embedding, d + 1) as double)
            |       - 0.8D * cast(element_at(embedding, d + 2) as double)
            |    else 0.8D * cast(element_at(embedding, d) as double)
            |       + 0.6D * cast(element_at(embedding, d + 1) as double)
            |  end)""".stripMargin))
        Similarity.procrustesAudit(emb, snapB, "vec_id", "embedding")
          .orderBy("audit")
      },
      Some("""WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |b AS (SELECT vec_id, list_transform(range(0, len(v)), d ->
             |    CASE WHEN d % 2 = 0
             |      THEN 0.6 * v[d + 1] - 0.8 * v[d + 2]
             |      ELSE 0.8 * v[d] + 0.6 * v[d + 1] END) AS bv
             |  FROM a),
             |pre AS (SELECT CAST(sum(q) AS BIGINT) AS p FROM (
             |  SELECT a.vec_id, list_sum(list_transform(range(1, len(bv) + 1),
             |    i -> CAST(round((bv[i] - v[i]) * (bv[i] - v[i]) * 1e6, 0) AS BIGINT))) AS q
             |  FROM a JOIN b ON a.vec_id = b.vec_id))
             |SELECT * FROM (VALUES
             |  ('n_aligned', (SELECT count(*) FROM embeddings), TRUE),
             |  ('orthogonality_micro', CAST(0 AS BIGINT), TRUE),
             |  ('post_residual_micro', CAST(0 AS BIGINT), TRUE),
             |  ('pre_residual_micro', (SELECT p FROM pre), TRUE)) AS t(audit, v, ok)
             |ORDER BY audit""".stripMargin)),

    // Matryoshka truncation audit (Kusupati NeurIPS'22): per prefix
    // length k, the norm fraction the first k dims capture — whether
    // the embedding can be served truncated (k·4 bytes) with little
    // retrieval loss. Per-vector folds run in index order on
    // integer-quantized squares; per-k aggregates sum micro-quantized
    // fractions — no float-sum order dependence anywhere.
    Q("sim_matryoshka",
      (s, dir) => Similarity.matryoshkaAudit(Tables.embeddings(s, dir),
          "vec_id", "embedding", Seq(8, 16, 32, 64))
        .orderBy("k"),
      Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v,
             |         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(round(x * x * 1e6, 0) AS BIGINT)), 'sum') AS nrm_full
             |       FROM embeddings WHERE embedding IS NOT NULL),
             |ks AS (SELECT unnest([8, 16, 32, 64]) AS kk),
             |f AS (SELECT ks.kk,
             |        CAST(round(sqrt(
             |          CAST(list_aggregate(list_transform(q.v[1:ks.kk],
             |            x -> CAST(round(x * x * 1e6, 0) AS BIGINT)), 'sum') AS DOUBLE)
             |          / CAST(greatest(q.nrm_full, 1) AS DOUBLE)) * 1e6, 0) AS BIGINT) AS fm
             |      FROM q, ks)
             |SELECT kk AS k, count(*) AS n_vecs,
             |  round(CAST(sum(fm) AS DOUBLE) / count(*) / 1e6, 6) AS avg_frac,
             |  round(CAST(min(fm) AS DOUBLE) / 1e6, 6) AS min_frac,
             |  round(CAST(max(fm) AS DOUBLE) / 1e6, 6) AS max_frac
             |FROM f GROUP BY kk ORDER BY kk""".stripMargin)),

    // Embedding diversity per label + corpus row (label -1): mean
    // pairwise cosine via the O(n) sum-vector identity
    // (sum_{i!=j} v.v = |S|^2 - n) — no pair join at any scale; the
    // oracle replays the per-dim integer micro-sums and the identical
    // dim-ordered fold.
    Q("sim_diversity",
      (s, dir) => Similarity.diversityAudit(Tables.embeddings(s, dir),
          "embedding", "label")
        .orderBy("label"),
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |n2 AS (SELECT label, v,
             |    list_sum([CAST(round(x * x * 1e6) AS BIGINT) for x in v]) AS n2
             |  FROM e),
             |q AS (SELECT label,
             |    [CAST(round(x / sqrt(CAST(n2 AS DOUBLE) / 1e6) * 1e6) AS BIGINT)
             |     for x in v] AS qv
             |  FROM n2 WHERE n2 > 0),
             |d AS (SELECT label, u.i AS dim, qv[u.i] AS qd
             |  FROM q, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) u),
             |s AS (SELECT CAST(label AS BIGINT) AS label, dim,
             |    sum(qd) AS sd, count(*) AS n FROM d GROUP BY 1, 2),
             |sa AS (SELECT label, dim, sd, n FROM s
             |  UNION ALL
             |  SELECT -1, dim, sum(sd), sum(n) FROM s GROUP BY dim),
             |g AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
             |    list(CAST(sd AS DOUBLE) / 1e6 * (CAST(sd AS DOUBLE) / 1e6)
             |      ORDER BY dim) AS ss
             |  FROM sa GROUP BY label),
             |mc AS (SELECT label, n_vecs,
             |    CASE WHEN n_vecs > 1 THEN
             |      (list_reduce(ss, (a, b) -> a + b) - CAST(n_vecs AS DOUBLE))
             |      / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))
             |    ELSE NULL END AS m
             |  FROM g)
             |SELECT label, n_vecs,
             |  floor(m * 1e6 + 0.5) / 1e6 AS mean_cos,
             |  floor((1.0 - m) * 1e6 + 0.5) / 1e6 AS diversity
             |FROM mc ORDER BY label""".stripMargin)),

    // Embedding↔corpus referential-integrity audit: the gate before
    // any dedup/ANN/mixture stage trusts the embedding table. The test
    // corpus is clean, so the query PLANTS one deterministic defect of
    // each class (dropped vectors, orphan ids, truncated dims, zeroed
    // vectors — same pattern as text_redact's planted email) and the
    // oracle replays the identical perturbation: the audit must find
    // exactly the planted counts and smallest ids.
    Q("sim_embedding_integrity",
      (s, dir) => {
        val e0 = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val planted = e0.filter(col("vec_id") % 97 =!= 0)
          .unionByName(e0.filter(col("vec_id") % 89 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
          .withColumn("embedding", when(col("vec_id") % 83 === 0,
            slice(col("embedding"), lit(1), size(col("embedding")) - 1))
            .otherwise(col("embedding")))
          .withColumn("embedding", when(col("vec_id") % 79 === 0,
            transform(col("embedding"), _ => lit(0.0)))
            .otherwise(col("embedding")))
        Similarity.embeddingIntegrity(Tables.documents(s, dir), planted,
          "doc_id", "vec_id", "embedding")
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p1 AS (SELECT vec_id, v FROM e0 WHERE vec_id % 97 <> 0
             |       UNION ALL
             |       SELECT vec_id + 1000000, v FROM e0 WHERE vec_id % 89 = 0),
             |p2 AS (SELECT vec_id, CASE WHEN vec_id % 83 = 0
             |         THEN v[1:len(v)-1] ELSE v END AS v FROM p1),
             |pe AS (SELECT vec_id, CASE WHEN vec_id % 79 = 0
             |         THEN list_transform(v, x -> 0.0) ELSE v END AS v FROM p2),
             |md AS (SELECT len(v) AS dim FROM pe GROUP BY 1
             |       ORDER BY count(*) DESC, dim ASC LIMIT 1),
             |issues AS (
             |  SELECT 'dim_mismatch' AS issue, count(*) AS n, min(vec_id) AS min_id
             |  FROM pe WHERE len(v) <> (SELECT dim FROM md)
             |  UNION ALL
             |  SELECT 'missing_embedding', count(*), min(doc_id)
             |  FROM documents WHERE doc_id NOT IN (SELECT vec_id FROM pe)
             |  UNION ALL
             |  SELECT 'orphan_vector', count(*), min(vec_id)
             |  FROM pe WHERE vec_id NOT IN (SELECT doc_id FROM documents)
             |  UNION ALL
             |  SELECT 'zero_norm', count(*), min(vec_id)
             |  FROM pe WHERE list_max(list_transform(v, x -> abs(x))) = 0.0)
             |SELECT issue, n, min_id FROM issues ORDER BY issue""".stripMargin)),

    // Positive-pair generation (the contrastive twin of hard-negative
    // mining, Contriever/SimCSE style): two non-overlapping chunks of
    // the SAME document form a positive pair. Deterministic: chunk 0
    // pairs with the document's LAST chunk (maximally distant — no
    // shared overlap chars when the doc has ≥ 2 chunks).
    Q("pair_positive_chunks",
      (s, dir) => {
        val ch = TextOps.chunk(Tables.documents(s, dir), "doc_id", "text", 256, 32)
        val first = ch.filter(col("chunk_id") === 0)
          .select(col("doc_id"), col("chunk").as("anchor"))
        val last = ch.groupBy(col("doc_id"))
          .agg(org.apache.spark.sql.functions.max(col("chunk_id")).as("__last"))
        ch.join(last, "doc_id").filter(col("chunk_id") === col("__last"))
          .filter(col("__last") > 0)
          .select(col("doc_id"), col("chunk").as("positive"))
          .join(first, "doc_id")
          .select(col("doc_id"), col("anchor"), col("positive"))
          .orderBy("doc_id")
      },
      Some("""WITH ch AS (SELECT doc_id, CAST(i // 224 AS BIGINT) AS chunk_id,
             |       substr(text, CAST(i AS INT) + 1, 256) AS chunk
             |     FROM documents, LATERAL
             |       (SELECT unnest(range(0, greatest(len(text) - 32, 1), 224)) AS i) u
             |     WHERE len(text) > 0),
             |lastc AS (SELECT doc_id, max(chunk_id) AS last_id FROM ch GROUP BY doc_id)
             |SELECT a.doc_id, a.chunk AS anchor, b.chunk AS positive
             |FROM ch a
             |JOIN lastc l ON l.doc_id = a.doc_id
             |JOIN ch b ON b.doc_id = a.doc_id AND b.chunk_id = l.last_id
             |WHERE a.chunk_id = 0 AND l.last_id > 0
             |ORDER BY a.doc_id""".stripMargin)),

    // Contrastive TRIPLET artifact (round 10): the composed training
    // set an embedding run actually consumes — (anchor, positive,
    // hard negative) per query doc, anchors/positives from the chunk
    // pairer, negatives from the banded hard-negative miner, texts as
    // md5 fingerprints (the clean_fp convention). Both arms are
    // already-oracle'd operators; this row pins their composition.
    Q("pair_training_triplets",
      (s, dir) => {
        val ch = TextOps.chunk(Tables.documents(s, dir), "doc_id", "text", 256, 32)
        val first = ch.filter(col("chunk_id") === 0)
          .select(col("doc_id"), md5(col("chunk").cast("binary")).as("anchor_fp"))
        val lastIdx = ch.groupBy(col("doc_id"))
          .agg(org.apache.spark.sql.functions.max(col("chunk_id")).as("__last"))
        val pos = ch.join(lastIdx, "doc_id")
          .filter(col("chunk_id") === col("__last") && col("__last") > 0)
          .select(col("doc_id"), md5(col("chunk").cast("binary")).as("positive_fp"))
        val neg = Similarity.hardNegatives(Tables.embeddings(s, dir),
            "vec_id", "embedding", "vec_id < 10", 1, 0.2, 0.45)
          .select(col("q_id").as("doc_id"), col("n_id").as("neg_id"),
            col("cosine").as("neg_cosine"))
        val negFp = first.select(col("doc_id").as("neg_id"),
          col("anchor_fp").as("negative_fp"))
        first.join(pos, "doc_id").join(neg, "doc_id").join(negFp, "neg_id")
          .select(col("doc_id"), col("anchor_fp"), col("positive_fp"),
            col("neg_id"), col("negative_fp"), col("neg_cosine"))
          .orderBy("doc_id")
      },
      Some("""WITH ch AS (SELECT doc_id, CAST(i // 224 AS BIGINT) AS chunk_id,
             |       substr(text, CAST(i AS INT) + 1, 256) AS chunk
             |     FROM documents, LATERAL
             |       (SELECT unnest(range(0, greatest(len(text) - 32, 1), 224)) AS i) u
             |     WHERE len(text) > 0),
             |lastc AS (SELECT doc_id, max(chunk_id) AS last_id FROM ch GROUP BY doc_id),
             |f AS (SELECT doc_id, md5(chunk) AS anchor_fp FROM ch WHERE chunk_id = 0),
             |p AS (SELECT ch.doc_id, md5(ch.chunk) AS positive_fp
             |      FROM ch JOIN lastc l ON l.doc_id = ch.doc_id
             |        AND ch.chunk_id = l.last_id WHERE l.last_id > 0),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |bd AS (SELECT * FROM sc WHERE cosine >= 0.2 AND cosine < 0.45),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM bd),
             |n AS (SELECT q_id AS doc_id, n_id AS neg_id,
             |        round(cosine, 5) AS neg_cosine FROM r WHERE rank = 1)
             |SELECT f.doc_id, f.anchor_fp, p.positive_fp, n.neg_id,
             |       nf.anchor_fp AS negative_fp, n.neg_cosine
             |FROM f JOIN p USING (doc_id) JOIN n USING (doc_id)
             |JOIN f nf ON nf.doc_id = n.neg_id
             |ORDER BY doc_id""".stripMargin)),

    // Hard-negative mining: top-5 neighbors inside the cosine band
    // [0.2, 0.45) per query — informative contrastive negatives below
    // the near-dup ceiling (the corpus's natural max cosine is ~0.51)
    Q("sim_hard_negatives",
      (s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5, 0.2, 0.45)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |b AS (SELECT * FROM sc WHERE cosine >= 0.2 AND cosine < 0.45),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM b)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Hard negatives mined through the IVF index — the scale path the
    // exact operator's scaladoc promises (candidates from the probed
    // cells only, band filter on the exact cosine of the survivors,
    // shared bounded top-k). Full probe (nprobe == nlist == 16, the
    // Memo'd sim_ivf fit) covers the whole corpus, so the output is
    // BITWISE the exact operator's — the oracle is the identical SQL.
    Q("sim_hard_negatives_ivf",
      (s, dir) => graft.ml.Ivf.hardNegatives(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5, 16, 16, 0.2, 0.45)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |b AS (SELECT * FROM sc WHERE cosine >= 0.2 AND cosine < 0.45),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM b)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Int8-quantized cosine top-k: the 4×-memory-compression ANN
    // variant, oracle-checked against DuckDB performing the identical
    // quantize→dequantize→rank pipeline
    Q("sim_quantized_topk",
      (s, dir) => Similarity.quantizedTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dims AS (SELECT max(len(v)) AS d FROM e),
             |sc AS (SELECT i, max(abs(v[i])) AS s
             |       FROM e, (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i)
             |       GROUP BY i),
             |qt AS (SELECT e.vec_id,
             |         list(CASE WHEN sc.s = 0 THEN 0.0
             |              ELSE floor(v[sc.i] / sc.s * 127 + 0.5) * sc.s / 127 END
             |              ORDER BY sc.i) AS qv
             |       FROM e, sc GROUP BY e.vec_id),
             |sco AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |          list_cosine_similarity(q.qv, n.qv) AS cosine
             |        FROM qt q JOIN qt n ON q.vec_id < 10 AND n.vec_id != q.vec_id),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM sco)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Binary (sign) quantization + Hamming prefilter top-k: the
    // 32×-compression ANN tier (Charikar SimHash geometry — one sign
    // bit per dim, packed into longs, bit_count(xor) candidate scan,
    // exact cosine rerank of the top-50 survivors). The oracle replays
    // the identical two-stage pipeline — hamming as a per-dim
    // sign-mismatch count (provably equal to the packed popcount) —
    // so a green row pins BOTH stages bit-for-bit.
    Q("sim_binary_hamming_topk",
      (s, dir) => Similarity.binaryHammingTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5, 50)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |ham AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |          len([i for i in range(1, greatest(len(q.v), len(n.v)) + 1)
             |               if coalesce(q.v[i] >= 0, false) <> coalesce(n.v[i] >= 0, false)])
             |            AS hamming
             |        FROM e q JOIN e n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
             |sv AS (SELECT q_id, n_id, hamming FROM (
             |         SELECT q_id, n_id, hamming,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY hamming, n_id) AS r FROM ham)
             |       WHERE r <= 50),
             |sc AS (SELECT s.q_id, s.n_id, s.hamming,
             |         list_cosine_similarity(q.v, n.v) AS cosine
             |       FROM sv s JOIN e q ON q.vec_id = s.q_id
             |                 JOIN e n ON n.vec_id = s.n_id),
             |r AS (SELECT q_id, n_id, cosine, hamming,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY cosine DESC, n_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine, hamming
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Binary-Hamming honesty gate at a PRUNED regime (rerank 100 of
    // ~500 candidates — measured recall 0.84, floor 0.75): recall@5
    // vs exact brute force, one auditable row. i.i.d. random vectors
    // are sign codes' ADVERSARIAL case (cosines concentrate near 0 at
    // dim 64, so top-5 margins are below one Hamming step); clustered
    // real-world embeddings rank far better at the same rerank.
    // Deterministic end-to-end, so the oracle replays the whole
    // two-stage pipeline and must land on the same integers — the
    // recall VALUE is hash-checked, not just a floor.
    Q("sim_binary_hamming_recall",
      (s, dir) => Similarity.binaryHammingRecall(Tables.embeddings(s, dir),
        "vec_id", "embedding", "vec_id < 10", 5, 100, 0.75),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |ham AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |          len([i for i in range(1, greatest(len(q.v), len(n.v)) + 1)
             |               if coalesce(q.v[i] >= 0, false) <> coalesce(n.v[i] >= 0, false)])
             |            AS hamming
             |        FROM e q JOIN e n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
             |sv AS (SELECT q_id, n_id FROM (
             |         SELECT q_id, n_id,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY hamming, n_id) AS r FROM ham)
             |       WHERE r <= 100),
             |ap AS (SELECT q_id, n_id FROM (
             |         SELECT s.q_id, s.n_id,
             |           row_number() OVER (PARTITION BY s.q_id
             |             ORDER BY list_cosine_similarity(q.v, n.v) DESC, s.n_id) AS rank
             |         FROM sv s JOIN e q ON q.vec_id = s.q_id
             |                   JOIN e n ON n.vec_id = s.n_id)
             |       WHERE rank <= 5),
             |ex AS (SELECT q_id, n_id FROM (
             |         SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |           row_number() OVER (PARTITION BY q.vec_id
             |             ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rank
             |         FROM e q JOIN e n ON q.vec_id < 10 AND n.vec_id <> q.vec_id)
             |       WHERE rank <= 5),
             |h AS (SELECT count(*) AS hits FROM ex SEMI JOIN ap USING (q_id, n_id)),
             |t AS (SELECT count(*) AS n_exact,
             |             count(DISTINCT q_id) AS n_queries FROM ex)
             |SELECT 5 AS k, 100 AS rerank,
             |       t.n_queries, h.hits,
             |       round(CAST(h.hits AS DOUBLE) / greatest(t.n_exact, 1), 5) AS recall,
             |       CAST(h.hits AS DOUBLE) / greatest(t.n_exact, 1) >= 0.75 AS pass
             |FROM h, t""".stripMargin)),

    // MULTI-INDEX HAMMING near-dup pairs (Norouzi CVPR 2012; the Manku
    // banding applied to embedding sign codes): pairs within Hamming
    // radius 15 of each other found via an EQUI-join on 16 band keys —
    // no theta join anywhere in candidate generation. The oracle
    // replays banding, candidate join, popcount verify, and cosine.
    Q("sim_banded_hamming_pairs",
      (s, dir) => Similarity.bandedHammingPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", 15)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dd AS (SELECT max(len(v)) AS dim FROM e),
             |bv AS (SELECT vec_id, v, bi,
             |         CAST(list_sum([CASE WHEN coalesce(v[i + 1] >= 0, false)
             |                 THEN CAST(1 AS BIGINT) << (i - (bi * dim) // 16)
             |                 ELSE 0 END
             |               for i in range((bi * dim) // 16, ((bi + 1) * dim) // 16)])
             |           AS BIGINT) AS bval
             |       FROM e, dd, (SELECT unnest(range(16)) AS bi)),
             |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             |         FROM bv x JOIN bv y
             |           ON x.bi = y.bi AND x.bval = y.bval AND x.vec_id < y.vec_id),
             |ham AS (SELECT c.id_a, c.id_b,
             |          CAST(len([i for i in range(1, greatest(len(a.v), len(b.v)) + 1)
             |               if coalesce(a.v[i] >= 0, false) <> coalesce(b.v[i] >= 0, false)])
             |            AS BIGINT) AS hamming,
             |          round(list_cosine_similarity(a.v, b.v), 5) AS cosine
             |        FROM cand c JOIN e a ON a.vec_id = c.id_a
             |                    JOIN e b ON b.vec_id = c.id_b)
             |SELECT id_a, id_b, hamming, cosine FROM ham
             |WHERE hamming <= 15 ORDER BY id_a, id_b""".stripMargin)),

    // Hamming dedup GROUPS (round 10): the closure a pipeline ends
    // with over the banded tier's pairs — the binary-code cousin of
    // SemDeDup (32× smaller codes, pigeonhole-complete candidates).
    // Pure composition: bandedHammingPairs edges → the shared
    // Components closure → min-id keep rule; the oracle replays the
    // band join and a WITH RECURSIVE reachability closure.
    Q("sim_hamming_groups",
      (s, dir) => Dedup.dedupGroups(
          Tables.embeddings(s, dir).select(col("vec_id")), "vec_id",
          Similarity.bandedHammingPairs(Tables.embeddings(s, dir),
              "vec_id", "embedding", 15)
            .select("id_a", "id_b"))
        .orderBy("vec_id"),
      Some("""WITH RECURSIVE
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dd AS (SELECT max(len(v)) AS dim FROM e),
             |bv AS (SELECT vec_id, v, bi,
             |         CAST(list_sum([CASE WHEN coalesce(v[i + 1] >= 0, false)
             |                 THEN CAST(1 AS BIGINT) << (i - (bi * dim) // 16)
             |                 ELSE 0 END
             |               for i in range((bi * dim) // 16, ((bi + 1) * dim) // 16)])
             |           AS BIGINT) AS bval
             |       FROM e, dd, (SELECT unnest(range(16)) AS bi)),
             |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             |         FROM bv x JOIN bv y
             |           ON x.bi = y.bi AND x.bval = y.bval AND x.vec_id < y.vec_id),
             |pairs AS (SELECT c.id_a, c.id_b
             |        FROM cand c JOIN e a ON a.vec_id = c.id_a
             |                    JOIN e b ON b.vec_id = c.id_b
             |        WHERE len([i for i in range(1, greatest(len(a.v), len(b.v)) + 1)
             |               if coalesce(a.v[i] >= 0, false) <> coalesce(b.v[i] >= 0, false)])
             |              <= 15),
             |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
             |          UNION ALL SELECT id_b, id_a FROM pairs),
             |reach AS (SELECT a AS id, b AS r FROM edges
             |          UNION
             |          SELECT rc.id, ed.b FROM reach rc JOIN edges ed ON rc.r = ed.a),
             |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id)
             |SELECT emb.vec_id,
             |       coalesce(least(l.m, emb.vec_id), emb.vec_id) AS keep_id,
             |       (coalesce(least(l.m, emb.vec_id), emb.vec_id) = emb.vec_id) AS keep
             |FROM embeddings emb LEFT JOIN lab l ON l.id = emb.vec_id
             |ORDER BY vec_id""".stripMargin)),

    // The pigeonhole THEOREM gate for the banded tier: radius-15 pairs
    // split into 16 bands MUST all match in ≥1 band, so recall vs the
    // exact all-pairs scan is exactly 1.0 — pinned as equality, not a
    // probabilistic floor (confined to vec_id < 1000 to bound the
    // exact side's theta join at larger SFs).
    Q("sim_banded_hamming_recall",
      (s, dir) => Similarity.bandedHammingRecall(
        Tables.embeddings(s, dir).filter(col("vec_id") < 1000),
        "vec_id", "embedding", 15),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings WHERE vec_id < 1000),
             |dd AS (SELECT max(len(v)) AS dim FROM e),
             |bv AS (SELECT vec_id, v, bi,
             |         CAST(list_sum([CASE WHEN coalesce(v[i + 1] >= 0, false)
             |                 THEN CAST(1 AS BIGINT) << (i - (bi * dim) // 16)
             |                 ELSE 0 END
             |               for i in range((bi * dim) // 16, ((bi + 1) * dim) // 16)])
             |           AS BIGINT) AS bval
             |       FROM e, dd, (SELECT unnest(range(16)) AS bi)),
             |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
             |         FROM bv x JOIN bv y
             |           ON x.bi = y.bi AND x.bval = y.bval AND x.vec_id < y.vec_id),
             |fnd AS (SELECT c.id_a, c.id_b
             |        FROM cand c JOIN e a ON a.vec_id = c.id_a
             |                    JOIN e b ON b.vec_id = c.id_b
             |        WHERE len([i for i in range(1, greatest(len(a.v), len(b.v)) + 1)
             |               if coalesce(a.v[i] >= 0, false) <> coalesce(b.v[i] >= 0, false)]) <= 15),
             |ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |       FROM e a JOIN e b ON a.vec_id < b.vec_id
             |       WHERE len([i for i in range(1, greatest(len(a.v), len(b.v)) + 1)
             |              if coalesce(a.v[i] >= 0, false) <> coalesce(b.v[i] >= 0, false)]) <= 15),
             |h AS (SELECT count(*) AS n_found FROM ex SEMI JOIN fnd USING (id_a, id_b)),
             |t AS (SELECT count(*) AS n_exact FROM ex)
             |SELECT 15 AS radius, 16 AS bands, t.n_exact, h.n_found,
             |       round(CAST(h.n_found AS DOUBLE) / greatest(t.n_exact, 1), 5) AS recall,
             |       h.n_found = t.n_exact AS pass
             |FROM h, t""".stripMargin)),

    // Embedding-space eval decontamination: nearest eval vector +
    // contamination flag per train vector (eval = every 50th id,
    // tau=0.4 — 6 semantic leaks planted above it in this corpus)
    Q("sim_eval_contamination",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.evalContamination(
            e.filter(col("vec_id") % 50 =!= 0),
            e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 0.4)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |ev AS (SELECT * FROM e WHERE vec_id % 50 = 0),
             |tr AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
             |sc AS (SELECT t.vec_id, e2.vec_id AS eval_id,
             |         round(list_cosine_similarity(t.v, e2.v), 5) AS cos
             |       FROM tr t, ev e2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             |        ORDER BY cos DESC, eval_id) AS rk FROM sc)
             |SELECT vec_id, eval_id AS nearest_eval, cos AS max_cos,
             |       cos >= 0.4 AS contaminated
             |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // Quantization error profile: the audit before committing the
    // corpus to the int8 ANN path — per-vector reconstruction error
    // and self-cosine under the exact quantizedTopK grid. Every float
    // reduction is an ordered left fold on BOTH engines (aggregate HOF
    // / list_reduce over position-ordered lists), so the doubles match
    // bit-for-bit before rounding.
    Q("sim_quant_error",
      (s, dir) => Similarity.quantizationProfile(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dims AS (SELECT max(len(v)) AS d FROM e),
             |sc AS (SELECT i, max(abs(v[i])) AS s
             |       FROM e, (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i)
             |       GROUP BY i),
             |qt AS (SELECT e.vec_id,
             |         list(CASE WHEN sc.s = 0 THEN 0.0
             |              ELSE floor(v[sc.i] / sc.s * 127 + 0.5) * sc.s / 127 END
             |              ORDER BY sc.i) AS qv
             |       FROM e, sc GROUP BY e.vec_id),
             |j AS (SELECT e.vec_id, e.v, q.qv FROM e JOIN qt q USING (vec_id)),
             |m AS (SELECT vec_id, len(v) AS d,
             |        list_reduce([abs(v[i] - qv[i]) for i in range(1, len(v) + 1)],
             |          (a, x) -> a + x) AS sum_abs,
             |        list_aggregate([abs(v[i] - qv[i]) for i in range(1, len(v) + 1)],
             |          'max') AS max_abs,
             |        list_reduce([(v[i] - qv[i]) * (v[i] - qv[i]) for i in range(1, len(v) + 1)],
             |          (a, x) -> a + x) AS sum_sq,
             |        list_reduce([v[i] * qv[i] for i in range(1, len(v) + 1)],
             |          (a, x) -> a + x) AS vq,
             |        list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)],
             |          (a, x) -> a + x) AS vv,
             |        list_reduce([qv[i] * qv[i] for i in range(1, len(v) + 1)],
             |          (a, x) -> a + x) AS qq
             |      FROM j)
             |SELECT vec_id, round(sum_abs / d, 6) AS mean_abs_err,
             |  round(max_abs, 6) AS max_abs_err,
             |  round(sqrt(sum_sq) / sqrt(vv), 6) AS rel_l2_err,
             |  round(vq / (sqrt(vv) * sqrt(qq)), 6) AS cos_self
             |FROM m ORDER BY vec_id""".stripMargin)),

    // Language-ID by stopword voting (broadcast dictionary)
    Q("text_langid",
      (s, dir) => TextOps.langId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH sw(word, lang) AS (VALUES ${TextOps.stopwordValuesSql}),
              |tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              |       FROM documents),
              |sc AS (SELECT doc_id, lang, count(*) AS hits FROM tk
              |       JOIN sw USING (word) GROUP BY 1, 2),
              |best AS (SELECT doc_id, lang, hits,
              |           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rk
              |         FROM sc)
              |SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang,
              |       coalesce(b.hits, 0) AS hits
              |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Mixed-language document audit: chunk-level langid disagreement
    // (code-switching / embedded boilerplate) that a doc-level vote
    // hides. Majority + per-chunk votes tie toward the smallest
    // language code; counts exact.
    Q("text_lang_consistency",
      (s, dir) => TextOps.langConsistency(Tables.documents(s, dir),
          "doc_id", "text", 200)
        .orderBy("doc_id"),
      Some(s"""WITH sw(word, lang) AS (VALUES ${TextOps.stopwordValuesSql}),
              |ch AS (SELECT doc_id, u.s AS start, substr(text, u.s + 1, 200) AS chunk
              |       FROM documents, LATERAL (SELECT unnest(range(0,
              |         greatest(length(text) - 1, 0) + 1, 200)) AS s) u
              |       WHERE length(text) > 0),
              |tk AS (SELECT doc_id, start,
              |         unnest(string_split_regex(lower(trim(chunk)), '\\s+')) AS word
              |       FROM ch),
              |sc AS (SELECT doc_id, start, lang, count(*) AS hits FROM tk
              |       JOIN sw USING (word) GROUP BY 1, 2, 3),
              |best AS (SELECT doc_id, start, lang,
              |           row_number() OVER (PARTITION BY doc_id, start
              |             ORDER BY hits DESC, lang) AS rk
              |         FROM sc),
              |pl AS (SELECT ch.doc_id, coalesce(b.lang, 'und') AS pred
              |       FROM ch LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
              |       ON ch.doc_id = b.doc_id AND ch.start = b.start),
              |pc AS (SELECT doc_id, pred, count(*) AS c FROM pl GROUP BY 1, 2),
              |mj AS (SELECT doc_id, pred, c,
              |         row_number() OVER (PARTITION BY doc_id
              |           ORDER BY c DESC, pred) AS rk,
              |         sum(c) OVER (PARTITION BY doc_id) AS n_chunks
              |       FROM pc),
              |nl AS (SELECT doc_id,
              |         CAST(count(DISTINCT CASE WHEN pred <> 'und' THEN pred END)
              |           AS BIGINT) AS n_langs
              |       FROM pc GROUP BY doc_id)
              |SELECT m.doc_id, CAST(m.n_chunks AS BIGINT) AS n_chunks,
              |  nl.n_langs, m.pred AS major_lang,
              |  floor(CAST(m.c AS DOUBLE) / m.n_chunks * 1e6 + 0.5) / 1e6
              |    AS major_frac,
              |  nl.n_langs >= 2 AS mixed
              |FROM mj m JOIN nl USING (doc_id)
              |WHERE m.rk = 1 ORDER BY m.doc_id""".stripMargin)),

    // Tokenizer fertility per language: tokens-per-word by predicted
    // lang — the audit of which languages the tokenizer serves poorly.
    // Exact integer sums; the one double is a single division.
    Q("text_fertility",
      (s, dir) => TextOps.tokenizerFertility(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("pred_lang"),
      Some(s"""WITH sw(word, lang) AS (VALUES ${TextOps.stopwordValuesSql}),
              |tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              |       FROM documents),
              |sc AS (SELECT doc_id, lang, count(*) AS hits FROM tk
              |       JOIN sw USING (word) GROUP BY 1, 2),
              |best AS (SELECT doc_id, lang, hits,
              |           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rk
              |         FROM sc),
              |lid AS (SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang
              |        FROM documents d
              |        LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)),
              |tc AS (SELECT doc_id,
              |         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_ws,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents)
              |SELECT pred_lang, count(*) AS n_docs,
              |  CAST(sum(n_ws) AS BIGINT) AS total_words,
              |  CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
              |  round(sum(n_bpe) / sum(n_ws), 4) AS fertility
              |FROM lid JOIN tc USING (doc_id)
              |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin)),

    // Quality scoring: length/punct/digit/stopword ratios — the
    // stopword ratio uses the full 20-language union dictionary
    Q("text_quality",
      (s, dir) => TextOps.quality(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CAST(length(text) AS BIGINT) AS chars,
              |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS words,
              |  round(length(text) / len(string_split_regex(lower(trim(text)), '\\s+')), 4) AS avg_word_len,
              |  round((length(text) - length(regexp_replace(text, '[.,;:!?()]', '', 'g'))) / length(text), 6) AS punct_ratio,
              |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text), 6) AS digit_ratio,
              |  round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |        / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS stopword_ratio
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // WITHIN-doc duplicate-line fractions (Gopher dup_line_frac /
    // dup_line_char_frac): docs % 9 == 0 get the planted footer line
    // TWICE — templating repeating blocks inside one page, which
    // cross-doc line dedup can't see
    Q("text_dup_lines",
      (s, dir) => {
        val d = col("doc_id")
        val planted = Tables.documents(s, dir).select(d, concat(
          col("text"), lit("\nall rights reserved line"),
          when(d % 9 === 0, lit("\nall rights reserved line")).otherwise(lit("")),
          lit("\ntail "), d.cast("string")).as("text"))
        TextOps.dupLineStats(planted, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |    text || chr(10) || 'all rights reserved line' ||
             |    (CASE WHEN doc_id % 9 = 0
             |          THEN chr(10) || 'all rights reserved line' ELSE '' END) ||
             |    chr(10) || 'tail ' || CAST(doc_id AS VARCHAR) AS text
             |  FROM documents),
             |l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
             |m AS (SELECT doc_id, len(ls) AS nl, len(list_distinct(ls)) AS nd,
             |        list_reduce(list_transform(ls, x -> length(x)),
             |          (a, b) -> a + b) AS tc,
             |        list_reduce(list_transform(list_distinct(ls), x -> length(x)),
             |          (a, b) -> a + b) AS dc
             |      FROM l)
             |SELECT doc_id, CAST(nl AS BIGINT) AS n_lines,
             |  CAST(nl - nd AS BIGINT) AS n_dup_lines,
             |  round((nl - nd) / nl, 6) AS dup_line_frac,
             |  round((tc - dc) / tc, 6) AS dup_char_frac
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Per-source quality-threshold calibration: rank-based EXACT
    // quantiles of the stopword-ratio score (cutoff_p = the ceil(p·n)-th
    // smallest score — integer rank arithmetic, no float interpolation,
    // every cutoff an actually-observed score) so each source gets its
    // own keep threshold. At corpus scale this runs on a per-source
    // sample; cutoffs are distribution estimates by nature.
    Q("text_quality_calibrate",
      (s, dir) => TextOps.qualityCalibrate(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy("source"),
      Some(s"""WITH q AS (SELECT doc_id,
              |    round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS score
              |  FROM documents),
              |j AS (SELECT d.source, q.doc_id, q.score
              |      FROM q JOIN documents d USING (doc_id)),
              |r AS (SELECT source, score,
              |        row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY source) AS n
              |      FROM j)
              |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
              |  max(CASE WHEN rn = (n + 9) // 10 THEN score END) AS p10,
              |  max(CASE WHEN rn = (n + 1) // 2 THEN score END) AS p50,
              |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN score END) AS p90
              |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // Per-source quality GATE with the Wilson lower confidence bound
    // (Wilson JASA 1927; the RefinedWeb/C4 domain-curation decision):
    // a source is blocked when even the optimistic read of its
    // good-doc fraction falls under the cutoff — small-n sources
    // shrink toward blocked instead of being whitelisted on 3 lucky
    // docs. Exact integer (k, n) + one fixed-order IEEE expression on
    // both engines, verdict compared on the 6dp-rounded bound.
    Q("text_quality_gate",
      (s, dir) => TextOps.qualityGate(Tables.documents(s, dir),
          "doc_id", "text", "source", 30, 0.1, 0.55)
        .orderBy("source"),
      Some("""WITH a AS (SELECT source, count(*) AS n,
             |    CAST(sum(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) >= 30
             |          AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) <= 0.1
             |        THEN 1 ELSE 0 END) AS BIGINT) AS k
             |  FROM documents GROUP BY source),
             |w AS (SELECT source, n, k,
             |    (CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * n)
             |     - 1.96 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
             |         + (1.96 * 1.96) / (4.0 * n * n))) / (1.0 + (1.96 * 1.96) / n) AS lo
             |  FROM a)
             |SELECT source, n, k, round(CAST(k AS DOUBLE) / n, 6) AS p_good,
             |  round(lo, 6) AS wilson_lo, round(lo, 6) < 0.55 AS blocked
             |FROM w ORDER BY source""".stripMargin)),

    // Poisson-bootstrap CI on mean stopword_ratio per source
    // (Chamandy et al. 2012 — THE distributed bootstrap: all B
    // replicates accumulate in one corpus pass, each row entering
    // replicate b with a Poisson(1) weight inverted from the house
    // md5-uniform; shuffle carries |sources|·B partial sums). The
    // uncertainty companion to the Wilson gate: proportions get
    // Wilson, arbitrary mean metrics get this.
    Q("text_quality_bootstrap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val m = TextOps.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("stopword_ratio"))
        TextOps.poissonBootstrapCI(
          docs.select("doc_id", "source").join(m, "doc_id"),
          "doc_id", "source", "stopword_ratio", 100, 0.10)
          .orderBy("source")
      },
      Some(s"""WITH m AS (SELECT doc_id, source,
              |    CAST(round(round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |        / len(string_split_regex(lower(trim(text)), '\\s+')), 6) * 1e6)
              |      AS BIGINT) AS q
              |  FROM documents),
              |r AS (SELECT doc_id, source, q, rep
              |  FROM m, (SELECT unnest(range(0, 100)) AS rep)),
              |u AS (SELECT source, rep, q,
              |    (CAST((SELECT sum((strpos('0123456789abcdef',
              |         substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)), j+1, 1)) - 1)
              |         * power(16, 7-j))
              |       FROM (SELECT unnest(range(8)) AS j)) AS DOUBLE) + 0.5) / 4294967296.0 AS uu
              |  FROM r),
              |w AS (SELECT source, rep, q,
              |    CASE WHEN uu < 0.36787944117144233 THEN 0
              |         WHEN uu < 0.7357588823428847 THEN 1
              |         WHEN uu < 0.9196986029286058 THEN 2
              |         WHEN uu < 0.9810118431238462 THEN 3
              |         WHEN uu < 0.9963401531726563 THEN 4
              |         WHEN uu < 0.9994058151824183 THEN 5
              |         ELSE 6 END AS w
              |  FROM u),
              |rm AS (SELECT source, rep,
              |    CAST(sum(w * q) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 1e6 AS mm
              |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
              |ms AS (SELECT source, list(mm ORDER BY mm) AS ms FROM rm GROUP BY 1),
              |pt AS (SELECT source, count(*) AS n_docs, sum(q) AS sq FROM m GROUP BY 1)
              |SELECT pt.source, n_docs,
              |  floor(CAST(sq AS DOUBLE) / n_docs / 1e6 * 1e6 + 0.5) / 1e6 AS mean_q,
              |  floor(ms[CAST(floor(0.05 * len(ms)) AS BIGINT) + 1] * 1e6 + 0.5) / 1e6 AS ci_lo,
              |  floor(ms[len(ms) - CAST(floor(0.05 * len(ms)) AS BIGINT)] * 1e6 + 0.5) / 1e6 AS ci_hi
              |FROM pt JOIN ms ON pt.source = ms.source
              |ORDER BY pt.source""".stripMargin)),

    // CALIBRATE → GATE → REPLAN composed in one artifact (VERDICT r9
    // #8): per-source p10 cutoffs prune each source's worst decile,
    // the Wilson gate drops whole weak-evidence sources, and the
    // mixture REPLANS over what survives — pinning the interaction
    // (curation shrinks tokens_avail, which raises epochs /
    // sample_rate vs the pre-curation text_mixture_plan). Same
    // weights/budget as the plan query and same gate params as
    // text_quality_gate, so the three rows triangulate.
    Q("pipeline_quality_replan",
      (s, dir) => TextOps.qualityReplan(Tables.documents(s, dir),
          "doc_id", "text", "source", "lang",
          Map("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1),
          10000000L, 30, 0.1, 0.55)
        .orderBy("lang"),
      Some(s"""WITH q AS (SELECT doc_id,
              |    round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS score
              |  FROM documents),
              |j AS (SELECT d.source, d.lang, q.doc_id, q.score
              |      FROM q JOIN documents d USING (doc_id)),
              |r AS (SELECT source, doc_id, score,
              |        row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY source) AS n
              |      FROM j),
              |cut AS (SELECT source, max(CASE WHEN rn = (n + 9) // 10 THEN score END) AS p10
              |        FROM r GROUP BY source),
              |a AS (SELECT source, count(*) AS n,
              |    CAST(sum(CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) >= 30
              |          AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) <= 0.1
              |        THEN 1 ELSE 0 END) AS BIGINT) AS k
              |  FROM documents GROUP BY source),
              |wg AS (SELECT source,
              |    (CAST(k AS DOUBLE) / n + (1.96 * 1.96) / (2.0 * n)
              |     - 1.96 * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
              |         + (1.96 * 1.96) / (4.0 * n * n))) / (1.0 + (1.96 * 1.96) / n) AS lo
              |  FROM a),
              |open_src AS (SELECT source FROM wg WHERE round(lo, 6) >= 0.55),
              |kept AS (SELECT j.doc_id, j.lang
              |         FROM j JOIN cut USING (source) SEMI JOIN open_src USING (source)
              |         WHERE j.score >= cut.p10),
              |tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT k.lang, count(*) AS n_docs,
              |        CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM kept k JOIN tok t USING (doc_id) GROUP BY k.lang),
              |p AS (SELECT lang, n_docs, tokens_avail,
              |        CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
              |          WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1
              |          ELSE 0.0 END AS DOUBLE) AS weight
              |      FROM g),
              |p2 AS (SELECT *, CAST(round(weight * 10000000, 0) AS BIGINT) AS tokens_target
              |       FROM p)
              |SELECT lang, n_docs, tokens_avail, weight, tokens_target,
              |       round(CAST(tokens_target AS DOUBLE) / tokens_avail, 6) AS epochs,
              |       round(least(CAST(1.0 AS DOUBLE),
              |         CAST(tokens_target AS DOUBLE) / tokens_avail), 6) AS sample_rate
              |FROM p2 ORDER BY lang""".stripMargin)),

    // Token counting: whitespace, alnum-regex, actual greedy-subword
    // merges over the fixed vocab (n_bpe), and chars/4 (n_bpe_est)
    Q("text_token_counts",
      (s, dir) => TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_ws,
             |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_alnum,
             |  CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe,
             |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Data-mixture planning: per-language token availability vs target
    // mixture weights and a 10M-token budget → epochs / sample rates
    // (the static-mixing step of a training-data pipeline)
    Q("text_mixture_plan",
      (s, dir) => TextOps.mixturePlan(Tables.documents(s, dir), "doc_id",
          "text", "lang",
          Map("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1),
          10000000L)
        .orderBy("lang"),
      Some(s"""WITH tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT d.lang, count(*) AS n_docs,
              |        CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM documents d JOIN tok t USING (doc_id) GROUP BY d.lang),
              |p AS (SELECT lang, n_docs, tokens_avail,
              |        CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
              |          WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1
              |          ELSE 0.0 END AS DOUBLE) AS weight
              |      FROM g),
              |p2 AS (SELECT *, CAST(round(weight * 10000000, 0) AS BIGINT) AS tokens_target
              |       FROM p)
              |SELECT lang, n_docs, tokens_avail, weight, tokens_target,
              |       round(CAST(tokens_target AS DOUBLE) / tokens_avail, 6) AS epochs,
              |       round(least(CAST(1.0 AS DOUBLE),
              |         CAST(tokens_target AS DOUBLE) / tokens_avail), 6) AS sample_rate
              |FROM p2 ORDER BY lang""".stripMargin)),

    // Mixture-plan EXECUTION: the plan's per-language sample_rate
    // applied as a deterministic md5-bucket keep-filter, with the
    // realized docs/tokens and fill fraction per group — the audit
    // row that shows whether the static mix actually lands on target
    // (under-filled groups need epochs > 1). Same budget/weights as
    // text_mixture_plan; rides its Memo'd token pass.
    Q("text_mixture_execute",
      (s, dir) => TextOps.mixtureExecute(Tables.documents(s, dir), "doc_id",
          "text", "lang",
          Map("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1),
          10000000L)
        .orderBy("lang"),
      Some(s"""WITH tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT d.lang, CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM documents d JOIN tok t USING (doc_id) GROUP BY d.lang),
              |p AS (SELECT lang, tokens_avail,
              |        CAST(round(CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
              |          WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1
              |          ELSE 0.0 END AS DOUBLE) * 10000000, 0) AS BIGINT) AS tokens_target
              |      FROM g),
              |r AS (SELECT lang, tokens_target,
              |        CAST(floor(round(least(CAST(1.0 AS DOUBLE),
              |          CAST(tokens_target AS DOUBLE) / tokens_avail), 6) * 10000) AS BIGINT) AS rate_bp
              |      FROM p),
              |b AS (SELECT d.doc_id, d.lang, t.n_bpe,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |         substr(md5(CAST(d.doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 10000 AS BIGINT) AS bucket
              |  FROM documents d JOIN tok t USING (doc_id)),
              |k AS (SELECT b.lang, count(*) AS docs_kept,
              |        CAST(sum(b.n_bpe) AS BIGINT) AS tokens_kept
              |      FROM b JOIN r ON r.lang = b.lang
              |      WHERE b.bucket < r.rate_bp GROUP BY b.lang)
              |SELECT r.lang, r.tokens_target, r.rate_bp,
              |       coalesce(k.docs_kept, 0) AS docs_kept,
              |       coalesce(k.tokens_kept, 0) AS tokens_kept,
              |       round(CAST(coalesce(k.tokens_kept, 0) AS DOUBLE)
              |         / greatest(r.tokens_target, 1), 6) AS fill_frac
              |FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang""".stripMargin)),

    // Mixture UPSAMPLING materializer: the repeat-epoch decision the
    // removal-only samplers defer, made concrete — one training row
    // per (doc, epoch_idx), ⌊epochs⌋ whole passes + an md5-bucket
    // fractional pass per group. Budget 100k tokens puts en at ~3
    // epochs (oversampled), zh near 1.75, de under 1 (bucket-sampled
    // only), es/fr absent (dropped): all three branches exercised.
    // Rides the same Memo'd token pass as the plan/execute family.
    Q("text_mixture_materialize",
      (s, dir) => TextOps.mixtureMaterialize(Tables.documents(s, dir),
          "doc_id", "text", "lang",
          Map("en" -> 0.5, "zh" -> 0.1, "de" -> 0.05), 100000L)
        .orderBy("doc_id", "epoch_idx"),
      Some(s"""WITH tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT d.lang, CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM documents d JOIN tok t USING (doc_id) GROUP BY d.lang),
              |p AS (SELECT lang, round(CAST(CAST(round(
              |          CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1
              |            WHEN 'de' THEN 0.05 ELSE 0.0 END AS DOUBLE) * 100000, 0)
              |          AS BIGINT) AS DOUBLE) / tokens_avail, 6) AS epochs
              |      FROM g WHERE tokens_avail > 0),
              |pl AS (SELECT lang, CAST(floor(epochs) AS BIGINT) AS fullp,
              |         CAST(floor((epochs - floor(epochs)) * 10000) AS BIGINT) AS frac_bp
              |       FROM p),
              |b AS (SELECT doc_id, lang,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |       substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |     FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 10000 AS BIGINT) AS bucket
              |  FROM documents),
              |r AS (SELECT b.doc_id, b.lang,
              |        pl.fullp + CASE WHEN b.bucket < pl.frac_bp THEN 1 ELSE 0 END AS reps
              |      FROM b JOIN pl ON pl.lang = b.lang)
              |SELECT r.doc_id, r.lang, CAST(u.e AS BIGINT) AS epoch_idx
              |FROM r, LATERAL (SELECT unnest(range(r.reps)) AS e) u
              |WHERE r.reps > 0
              |ORDER BY doc_id, epoch_idx""".stripMargin)),

    // Training-order interleave over the materialized mixture: the
    // end of the static-mixing chain — md5-keyed pseudo-random
    // scatter into 4 shards with per-shard positions, so repeated
    // epochs of one doc never sit adjacent and every prefix of the
    // round-robin read consumes the exact mixture. Same weights and
    // budget as the materializer (rides its Memo'd token pass).
    Q("text_training_order",
      (s, dir) => TextOps.trainingOrder(
          TextOps.mixtureMaterialize(Tables.documents(s, dir),
            "doc_id", "text", "lang",
            Map("en" -> 0.5, "zh" -> 0.1, "de" -> 0.05), 100000L),
          "doc_id", "epoch_idx", 4)
        .orderBy("shard", "pos"),
      Some(s"""WITH tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT d.lang, CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM documents d JOIN tok t USING (doc_id) GROUP BY d.lang),
              |p AS (SELECT lang, round(CAST(CAST(round(
              |          CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1
              |            WHEN 'de' THEN 0.05 ELSE 0.0 END AS DOUBLE) * 100000, 0)
              |          AS BIGINT) AS DOUBLE) / tokens_avail, 6) AS epochs
              |      FROM g WHERE tokens_avail > 0),
              |pl AS (SELECT lang, CAST(floor(epochs) AS BIGINT) AS fullp,
              |         CAST(floor((epochs - floor(epochs)) * 10000) AS BIGINT) AS frac_bp
              |       FROM p),
              |b AS (SELECT doc_id, lang,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |       substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |     FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 10000 AS BIGINT) AS bucket
              |  FROM documents),
              |r AS (SELECT b.doc_id, b.lang,
              |        pl.fullp + CASE WHEN b.bucket < pl.frac_bp THEN 1 ELSE 0 END AS reps
              |      FROM b JOIN pl ON pl.lang = b.lang),
              |m AS (SELECT r.doc_id, r.lang, CAST(u.e AS BIGINT) AS epoch_idx
              |      FROM r, LATERAL (SELECT unnest(range(r.reps)) AS e) u
              |      WHERE r.reps > 0),
              |k AS (SELECT doc_id, lang, epoch_idx,
              |        md5(CAST(doc_id AS VARCHAR) || '|' || CAST(epoch_idx AS VARCHAR)) AS kk
              |      FROM m),
              |sh AS (SELECT doc_id, lang, epoch_idx, kk,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |       substr(kk, j+1, 1)) - 1) * power(16, 7-j))
              |     FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 4 AS BIGINT) AS shard
              |  FROM k)
              |SELECT doc_id, lang, epoch_idx, shard,
              |  CAST(row_number() OVER (PARTITION BY shard ORDER BY kk, doc_id) AS BIGINT) AS pos
              |FROM sh ORDER BY shard, pos""".stripMargin)),

    // BPE tokenizer TRAINING, step 1 (Sennrich 2016): weighted
    // adjacent symbol-pair counts over the word-frequency table with
    // chars + '</w>' initial symbols — the fully-SQL-expressible head
    // of the training loop, so it carries the family's oracle row.
    // Top-20 under the training loop's exact total order.
    Q("text_bpe_pair_counts",
      (s, dir) => Bpe.pairCounts(Tables.documents(s, dir), "doc_id", "text")
        .limit(20),
      Some("""WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |           FROM documents),
             |wf AS (SELECT w, count(*) AS freq FROM t WHERE len(w) > 0 GROUP BY w),
             |sy AS (SELECT freq, list_append(string_split(w, ''), '</w>') AS s FROM wf),
             |pr AS (SELECT s[i+1] AS l, s[i+2] AS r, freq
             |       FROM sy, LATERAL (SELECT unnest(range(len(s)-1)) AS i) u),
             |pc AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS pair_freq
             |       FROM pr GROUP BY l, r)
             |SELECT l, r, pair_freq FROM pc
             |ORDER BY pair_freq DESC, l, r LIMIT 20""".stripMargin)),

    // BPE training, the full merge loop: 40 learned merges in rank
    // order. Iterative global-argmax training is not SQL-expressible
    // (no_oracle); BpeSpec pins the sf0.001 head exactly, proves
    // driver/distributed path parity, and checks the trainer against
    // an independent reimplementation.
    Q("text_bpe_merges",
      (s, dir) => Bpe.merges(Tables.documents(s, dir), "doc_id", "text", 40)
        .orderBy("rank"),
      None),

    // BPE training, the payoff audit: tokenize the corpus with the 40
    // freshly learned merges and report per-language fertility — the
    // before/after a tokenizer-training run is judged on (compare
    // text_fertility's fixed-vocab numbers). Rides the Memo'd train.
    Q("text_bpe_fertility",
      (s, dir) => Bpe.trainedFertility(Tables.documents(s, dir), "doc_id",
          "text", "lang", 40)
        .orderBy("lang"),
      None),

    // Temperature-flattened mixture (XLM-R alpha-sampling): weights
    // derived from availability^0.5 instead of hand-set targets —
    // low-resource languages up-sampled, head down-sampled. alpha=0.5
    // routes through IEEE-exact sqrt and the flattened mass is
    // quantized to integer micro-units before normalizing, so DuckDB
    // reproduces the plan bit-for-bit. Rides the same Memo'd token
    // pass as text_mixture_plan/_execute.
    // Water-filling budget allocation (round 10): the CONSTRAINED
    // temperature mixture — spend half the corpus's tokens ∝ √cap
    // weights, never above a source's availability; small sources hit
    // their cap and the excess redistributes through the single
    // water level λ. Every 5th source is deterministically shrunk
    // (size DIV 50) so both branches (capped / λ-allocated) are
    // populated at every SF; the capped-set decision is exact integer
    // cross-multiplication, replayed identically in SQL.
    Q("text_source_waterfill",
      (s, dir) => {
        val planted = Tables.documents(s, dir).withColumn("sz", expr(
          """CASE WHEN CAST(substring(source, 4) AS INT) % 5 = 0
            |     THEN n_chars DIV 50 ELSE n_chars END""".stripMargin))
        TextOps.waterfillAllocate(planted, "source", "sz", 0.5)
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source,
             |    CASE WHEN CAST(substr(source, 4) AS INT) % 5 = 0
             |         THEN n_chars // 50 ELSE n_chars END AS sz
             |  FROM documents),
             |g AS (SELECT source, CAST(sum(sz) AS BIGINT) AS cap
             |      FROM d GROUP BY source),
             |w AS (SELECT source, cap,
             |        CAST(floor(sqrt(CAST(cap AS DOUBLE)) * 1e3) AS BIGINT) AS w
             |      FROM g),
             |t AS (SELECT *, (SELECT sum(cap) FROM w) AS totcap,
             |               (SELECT sum(w) FROM w) AS totw FROM w),
             |b AS (SELECT *,
             |        CAST(floor(CAST(totcap AS DOUBLE) * 0.5) AS BIGINT) AS B,
             |        sum(cap) OVER (ORDER BY CAST(cap AS DOUBLE)/w, source) AS cumcap,
             |        sum(w) OVER (ORDER BY CAST(cap AS DOUBLE)/w, source) AS cumw
             |      FROM t),
             |c AS (SELECT *,
             |        (cap * (totw - cumw) <= (B - cumcap) * w) AS capped
             |      FROM b),
             |f AS (SELECT *,
             |        (SELECT coalesce(sum(cap) FILTER (WHERE capped), 0) FROM c) AS ccap,
             |        (SELECT coalesce(sum(w) FILTER (WHERE capped), 0) FROM c) AS cw
             |      FROM c),
             |l AS (SELECT *, CASE WHEN totw = cw THEN NULL
             |        ELSE CAST(B - ccap AS DOUBLE) / CAST(totw - cw AS DOUBLE)
             |        END AS lam FROM f)
             |SELECT source, cap, capped,
             |  CASE WHEN capped THEN cap
             |       ELSE CAST(floor(lam * w) AS BIGINT) END AS alloc,
             |  floor(lam * 1e6 + 0.5) / 1e6 AS lambda
             |FROM l ORDER BY source""".stripMargin)),

    Q("text_mixture_temperature",
      (s, dir) => TextOps.mixtureTemperature(Tables.documents(s, dir),
          "doc_id", "text", "lang", 0.5, 10000000L)
        .orderBy("lang"),
      Some(s"""WITH tok AS (SELECT doc_id,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |g AS (SELECT d.lang, count(*) AS n_docs,
              |        CAST(sum(t.n_bpe) AS BIGINT) AS tokens_avail
              |      FROM documents d JOIN tok t USING (doc_id) GROUP BY d.lang),
              |m AS (SELECT *, CAST(floor(sqrt(CAST(tokens_avail AS DOUBLE)) * 1e6) AS BIGINT) AS mu
              |      FROM g),
              |n AS (SELECT *,
              |        round(CAST(tokens_avail AS DOUBLE) / (SELECT sum(tokens_avail) FROM m), 6) AS nat_share,
              |        round(CAST(mu AS DOUBLE) / (SELECT sum(mu) FROM m), 6) AS weight
              |      FROM m),
              |p AS (SELECT *, round(weight / nat_share, 4) AS boost,
              |        CAST(round(weight * 10000000, 0) AS BIGINT) AS tokens_target
              |      FROM n)
              |SELECT lang, n_docs, tokens_avail, nat_share, weight, boost, tokens_target,
              |       round(CAST(tokens_target AS DOUBLE) / tokens_avail, 6) AS epochs,
              |       round(least(CAST(1.0 AS DOUBLE),
              |         CAST(tokens_target AS DOUBLE) / tokens_avail), 6) AS sample_rate
              |FROM p ORDER BY lang""".stripMargin)),

    // Code-vs-prose routing: structural signals + routing decision;
    // every 11th doc gets six closed-form code lines planted so both
    // the signals and the 'code' route fire on known rows
    Q("text_structure_route",
      (s, dir) => {
        val planted = Tables.documents(s, dir).withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(lit("    val v = f(x);\n" * 6), col("text")))
          .otherwise(col("text")))
        TextOps.structureRoute(planted, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CASE WHEN doc_id % 11 = 0
             |      THEN repeat('    val v = f(x);' || chr(10), 6) || text
             |      ELSE text END AS txt
             |  FROM documents),
             |m AS (SELECT doc_id, string_split(txt, chr(10)) AS ls, len(txt) AS n,
             |    len(regexp_extract_all(txt, '[{}\[\]();=]')) AS sig,
             |    len(regexp_extract_all(txt,
             |      '\b(val|var|def|class|import|return|if|for|while|fun|let|const)\b')) AS kw
             |  FROM d),
             |f AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
             |    round(CAST(len(list_filter(ls, l -> regexp_matches(l, '^(    |\t)'))) AS DOUBLE)
             |      / len(ls), 6) AS indent_frac,
             |    round(CAST(len(list_filter(ls, l -> regexp_matches(l, '[;{}]\s*$'))) AS DOUBLE)
             |      / len(ls), 6) AS term_frac,
             |    round(CASE WHEN n > 0 THEN CAST(sig AS DOUBLE) / n ELSE 0.0 END, 6) AS sigil_density,
             |    CAST(kw AS BIGINT) AS code_kw
             |  FROM m)
             |SELECT doc_id, n_lines, indent_frac, term_frac, sigil_density, code_kw,
             |    CASE WHEN sigil_density >= 0.02 AND code_kw >= 3
             |      THEN 'code' ELSE 'prose' END AS route
             |FROM f ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights (Xie et al. NeurIPS'23): hashed-ngram
    // bucket distributions for target (lang='en') vs raw corpus,
    // add-one smoothed, per-doc importance log-weight as an ordered
    // fold — the model-free data-selection scorer
    Q("text_dsir_weights",
      (s, dir) => TextOps.dsirWeights(Tables.documents(s, dir), "doc_id",
          "text", col("lang") === "en")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id,
              |         string_split_regex(lower(trim(text)), '\\s+') AS t
              |       FROM documents),
              |ngs AS (SELECT doc_id, unnest(t) AS ng FROM tk
              |        UNION ALL
              |        SELECT doc_id, t[i] || ' ' || t[i + 1] AS ng
              |        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk)),
              |h AS (SELECT doc_id,
              |        CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |            substr(md5(ng), j+1, 1)) - 1) * power(16, 7-j))
              |          FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 64 AS BIGINT) AS b
              |      FROM ngs),
              |dc AS (SELECT doc_id, b, count(*) AS c FROM h GROUP BY 1, 2),
              |bb AS (SELECT b,
              |         CAST(sum(CASE WHEN d.lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct,
              |         CAST(sum(c) AS BIGINT) AS cr
              |       FROM dc JOIN documents d USING (doc_id) GROUP BY b),
              |tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt,
              |          CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM bb),
              |al AS (SELECT unnest(range(64)) AS b),
              |ratio AS (SELECT al.b,
              |            ln((coalesce(bb.ct, 0) + 1)::DOUBLE / (tot.tt + 64)) -
              |            ln((coalesce(bb.cr, 0) + 1)::DOUBLE / (tot.tr + 64)) AS lr
              |          FROM al LEFT JOIN bb ON al.b = bb.b, tot),
              |w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
              |        list_reduce(list(c * lr ORDER BY b), (x, y) -> x + y) AS lw
              |      FROM dc JOIN ratio USING (b) GROUP BY doc_id)
              |SELECT d.doc_id, (d.lang = 'en') AS is_target, w.n_ngrams,
              |       round(w.lw, 6) AS log_w
              |FROM w JOIN documents d USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // DSIR top-k selection: the 50 raw docs most target-like by
    // importance weight (TakeOrderedAndProject — the selection step a
    // training run actually materializes)
    Q("text_dsir_select",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val top = TextOps.dsirWeights(Tables.documents(s, dir), "doc_id",
            "text", col("lang") === "en")
          .orderBy(col("log_w").desc, col("doc_id")).limit(50)
        top.withColumn("rk", row_number().over(
            Window.orderBy(col("log_w").desc, col("doc_id"))).cast("long"))
          .select(col("rk"), col("doc_id"), col("is_target"), col("log_w"))
      },
      Some(s"""WITH tk AS (SELECT doc_id,
              |         string_split_regex(lower(trim(text)), '\\s+') AS t
              |       FROM documents),
              |ngs AS (SELECT doc_id, unnest(t) AS ng FROM tk
              |        UNION ALL
              |        SELECT doc_id, t[i] || ' ' || t[i + 1] AS ng
              |        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk)),
              |h AS (SELECT doc_id,
              |        CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |            substr(md5(ng), j+1, 1)) - 1) * power(16, 7-j))
              |          FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 64 AS BIGINT) AS b
              |      FROM ngs),
              |dc AS (SELECT doc_id, b, count(*) AS c FROM h GROUP BY 1, 2),
              |bb AS (SELECT b,
              |         CAST(sum(CASE WHEN d.lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct,
              |         CAST(sum(c) AS BIGINT) AS cr
              |       FROM dc JOIN documents d USING (doc_id) GROUP BY b),
              |tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt,
              |          CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM bb),
              |al AS (SELECT unnest(range(64)) AS b),
              |ratio AS (SELECT al.b,
              |            ln((coalesce(bb.ct, 0) + 1)::DOUBLE / (tot.tt + 64)) -
              |            ln((coalesce(bb.cr, 0) + 1)::DOUBLE / (tot.tr + 64)) AS lr
              |          FROM al LEFT JOIN bb ON al.b = bb.b, tot),
              |w AS (SELECT doc_id, round(list_reduce(list(c * lr ORDER BY b),
              |          (x, y) -> x + y), 6) AS log_w
              |      FROM dc JOIN ratio USING (b) GROUP BY doc_id)
              |SELECT CAST(row_number() OVER (ORDER BY w.log_w DESC, w.doc_id) AS BIGINT) AS rk,
              |       w.doc_id, (d.lang = 'en') AS is_target, w.log_w
              |FROM w JOIN documents d USING (doc_id)
              |ORDER BY w.log_w DESC, w.doc_id LIMIT 50""".stripMargin)),

    // Quality-threshold yield curve: docs/tokens surviving a keep at
    // score >= threshold, per observed 0.05-wide quality bin
    // (cumulative from the top — the curation tuning chart)
    Q("text_yield_curve",
      (s, dir) => TextOps.yieldCurve(Tables.documents(s, dir), "doc_id", "text"),
      Some(s"""WITH q AS (SELECT doc_id,
              |         round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |             w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |           / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS score,
              |         CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeRe}')) AS BIGINT) AS n_bpe
              |       FROM documents),
              |b AS (SELECT CAST(round(score * 1000000, 0) AS BIGINT) // 50000 AS bin,
              |        count(*) AS docs, CAST(sum(n_bpe) AS BIGINT) AS toks
              |      FROM q GROUP BY 1)
              |SELECT round(CAST(bin AS DOUBLE) / 20, 4) AS threshold,
              |       CAST(sum(docs) OVER (ORDER BY bin DESC
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_ge,
              |       CAST(sum(toks) OVER (ORDER BY bin DESC
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_ge
              |FROM b ORDER BY threshold""".stripMargin)),

    // Corpus vocabulary: top-50 tokens by occurrence with doc frequency
    // (tokenizer/vocab construction first pass; TakeOrderedAndProject)
    // PMI collocations (round 10 session 3, [EXT]): top adjacent word
    // pairs by pointwise mutual information — multi-word-unit mining
    // for tokenizer merges / boilerplate signatures. Exact integer
    // counts, one shared ln chain, hapax bigrams pruned pre-join.
    Q("text_collocations",
      (s, dir) => TextOps.collocations(Tables.documents(s, dir),
        "doc_id", "text", minCount = 5L, k = 100),
      Some("""WITH toks AS (SELECT
             |    string_split_regex(lower(trim(text)), '\s+') AS t
             |  FROM documents WHERE text IS NOT NULL),
             |uni AS (SELECT unnest(t) AS w FROM toks),
             |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
             |n1 AS (SELECT count(*) AS n1 FROM uni),
             |bi AS (SELECT p['a'] AS a, p['b'] AS b FROM (
             |  SELECT unnest([ {'a': t[i], 'b': t[i+1]}
             |                  for i in range(1, len(t)) ]) AS p
             |  FROM toks)),
             |bc AS (SELECT a, b, count(*) AS c_ab FROM bi GROUP BY a, b
             |       HAVING count(*) >= 5),
             |n2 AS (SELECT count(*) AS n2 FROM bi)
             |SELECT b.a, b.b, b.c_ab, ua.c AS c_a, ub.c AS c_b,
             |  floor(ln((CAST(b.c_ab AS DOUBLE) * n1 * n1)
             |      / (CAST(n2 AS DOUBLE) * ua.c * ub.c)) * 1e6 + 0.5) / 1e6
             |    AS pmi
             |FROM bc b JOIN uc ua ON ua.w = b.a JOIN uc ub ON ub.w = b.b,
             |     n1, n2
             |ORDER BY pmi DESC, a, b LIMIT 100""".stripMargin)),

    Q("text_vocab",
      (s, dir) => TextOps.vocabTopK(Tables.documents(s, dir), "doc_id", "text", 50),
      Some("""SELECT t AS token, count(*) AS n_total,
             |       count(DISTINCT doc_id) AS n_docs
             |FROM (SELECT doc_id,
             |        unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
             |      FROM documents)
             |GROUP BY token ORDER BY n_total DESC, token LIMIT 50""".stripMargin)),

    // Vocabulary coverage curve (round 10): occurrence coverage of the
    // top-N words per candidate vocab size — the tokenizer-budget
    // chart (where the curve flattens, added vocab buys nothing).
    // Each cutoff is a TakeOrderedAndProject top-N sum over the Memo'd
    // (word, freq) table — no global rank window over the vocabulary.
    Q("text_vocab_coverage",
      (s, dir) => TextOps.vocabCoverage(Tables.documents(s, dir),
          "doc_id", "text", Seq(1, 2, 4, 8, 16))
        .orderBy("vocab_size"),
      Some("""WITH tf AS (SELECT w, count(*) AS f
             |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |        FROM documents) GROUP BY w),
             |tot AS (SELECT sum(f) AS t FROM tf),
             |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rk FROM tf),
             |s(n) AS (VALUES (1), (2), (4), (8), (16)),
             |cov AS (SELECT s.n AS vocab_size, count(r.f) AS n_words,
             |          coalesce(sum(r.f), 0) AS covered
             |        FROM s LEFT JOIN r ON r.rk <= s.n GROUP BY s.n)
             |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
             |  CAST(n_words AS BIGINT) AS n_words,
             |  CAST(covered AS BIGINT) AS covered,
             |  CAST((SELECT t FROM tot) AS BIGINT) AS total_tokens,
             |  floor(CAST(covered AS DOUBLE) / (SELECT t FROM tot) * 1e6 + 0.5)
             |    / 1e6 AS coverage
             |FROM cov ORDER BY vocab_size""".stripMargin)),

    // Good–Turing unseen mass per source (round 10, [EXT]): hapax
    // count over tokens estimates the UNSEEN vocabulary mass — the
    // crawl-saturation check (a high-unseen-mass source rewards more
    // collection). All exact integer counts + two divisions.
    Q("text_good_turing",
      (s, dir) => TextOps.goodTuring(Tables.documents(s, dir), "source", "text")
        .orderBy("source"),
      Some("""WITH sw AS (SELECT source, w, count(*) AS c
             |  FROM (SELECT source,
             |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |    FROM documents) GROUP BY source, w)
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             |  count(*) AS n_distinct,
             |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
             |  floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / sum(c) * 1e6 + 0.5) / 1e6 AS unseen_mass,
             |  floor((1.0 - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / sum(c)) * 1e6 + 0.5) / 1e6 AS coverage
             |FROM sw GROUP BY source ORDER BY source""".stripMargin)),

    // Per-source unigram KL from the corpus blend (round 10, [EXT]):
    // the mixture-design distance — a high-KL source is the
    // distribution-shifting one to weight deliberately. Counts exact;
    // the per-word term p·ln(p/q) is one identical IEEE chain
    // quantized at 1e9, summed as exact integers.
    Q("text_source_kl",
      (s, dir) => TextOps.sourceKl(Tables.documents(s, dir), "source", "text")
        .orderBy("source"),
      Some("""WITH tok AS (SELECT source,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |sw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY source, w),
             |st AS (SELECT source, sum(c_sw) AS c_s FROM sw GROUP BY source),
             |wt AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
             |t AS (SELECT sum(c_w) AS c FROM wt),
             |j AS (SELECT sw.source,
             |    CAST(round((CAST(c_sw AS DOUBLE) / c_s)
             |      * ln((CAST(c_sw AS DOUBLE) / c_s)
             |        / (CAST(c_w AS DOUBLE) / c)) * 1e9) AS BIGINT) AS tq,
             |    c_s
             |  FROM sw JOIN wt USING (w) JOIN st USING (source), t)
             |SELECT source, CAST(max(c_s) AS BIGINT) AS n_tokens,
             |  count(*) AS n_words,
             |  floor(CAST(sum(tq) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS kl
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // Zipf rank-frequency fit (round 10, [EXT]): OLS slope/intercept
    // of ln(freq) on ln(rank) over the top-100 tokens — natural
    // language sits near slope −1; templated corpora flatten. Shares
    // the Memo'd token-frequency pass; all OLS moments are exact
    // integer micro-sums of quantized lns, so the closed form is one
    // identical IEEE chain on both engines.
    Q("text_zipf_fit",
      (s, dir) => TextOps.zipfFit(Tables.documents(s, dir),
        "doc_id", "text", 100),
      Some("""WITH tf AS (SELECT w, count(*) AS f
             |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |        FROM documents) GROUP BY w),
             |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS r
             |        FROM tf ORDER BY f DESC, w ASC LIMIT 100),
             |q AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
             |             CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS yq
             |      FROM top),
             |s AS (SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
             |             sum(xq * yq) AS sxy, sum(xq * xq) AS sxx FROM q),
             |fit AS (SELECT n, sx, sy,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
             |  FROM s)
             |SELECT CAST(n AS BIGINT) AS n_ranks,
             |  floor(slope_raw * 1e4 + 0.5) / 1e4 AS slope,
             |  floor((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS intercept
             |FROM fit""".stripMargin)),

    // Heaps'-law vocabulary growth (round 10, [EXT]): cumulative
    // vocabulary vs cumulative tokens at 20 doc-id buckets — the
    // "is more data still adding words" chart. A word's first bucket
    // is min(doc_id) over one token-keyed shuffle; the cumulative
    // window runs over 20 rows only; all counts exact integers.
    Q("text_heaps_law",
      (s, dir) => TextOps.heapsCurve(Tables.documents(s, dir),
        "doc_id", "text", 20).orderBy("bucket"),
      Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
             |tok AS (SELECT least(19, CAST(floor(CAST(doc_id AS DOUBLE) * 20
             |            / CAST(m + 1 AS DOUBLE)) AS BIGINT)) AS b,
             |          doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |        FROM documents, mx),
             |pb AS (SELECT b, count(*) AS n_tok, count(DISTINCT doc_id) AS n_docs
             |       FROM tok GROUP BY b),
             |nw AS (SELECT fb AS b, count(*) AS n_new
             |       FROM (SELECT w, min(b) AS fb FROM tok GROUP BY w) GROUP BY fb)
             |SELECT pb.b AS bucket, pb.n_docs,
             |  CAST(sum(pb.n_tok) OVER (ORDER BY pb.b) AS BIGINT) AS tokens_cum,
             |  CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY pb.b) AS BIGINT)
             |    AS vocab_cum
             |FROM pb LEFT JOIN nw ON pb.b = nw.b
             |ORDER BY bucket""".stripMargin)),

    // Context-window chunking: 256-char chunks, 32-char overlap (RAG /
    // training-window passage splitter; per-row sequence+substr)
    Q("text_chunk",
      (s, dir) => TextOps.chunk(Tables.documents(s, dir), "doc_id", "text", 256, 32)
        .orderBy("doc_id", "chunk_id"),
      Some("""SELECT doc_id, CAST(i // 224 AS BIGINT) AS chunk_id,
             |       substr(text, CAST(i AS INT) + 1, 256) AS chunk,
             |       CAST(length(substr(text, CAST(i AS INT) + 1, 256)) AS BIGINT) AS n_chars
             |FROM documents, LATERAL
             |  (SELECT unnest(range(0, greatest(len(text) - 32, 1), 224)) AS i) u
             |WHERE len(text) > 0 ORDER BY doc_id, chunk_id""".stripMargin)),

    // Repetition quality signals (Gopher-style): unique-word ratio +
    // most-frequent-bigram fraction, all array HOFs (no shuffle)
    Q("text_repetition",
      (s, dir) => TextOps.repetition(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             |  round(len(list_distinct(w)) / len(w), 6) AS uniq_word_ratio,
             |  round(CASE WHEN len(w) >= 2 THEN
             |    list_max(list_transform(list_distinct(bg), b -> len(list_filter(bg, x -> x = b)))) / (len(w) - 1)
             |  END, 6) AS top_bigram_frac
             |FROM (SELECT doc_id, w,
             |        list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]) AS bg
             |      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
             |            FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: email/URL counts + md5 of the redacted text
    // (conservative char-class regexes that mean the same thing in
    // Java regex and DuckDB RE2). The synthetic corpus contains no
    // PII at all, so the query plants one deterministic email + URL
    // per row first — otherwise the green would be vacuous (0 matches
    // proves nothing about the scrub path); planted-content semantics
    // are also spec-tested on fixtures in TextDedupSpec.
    Q("text_redact",
      (s, dir) => {
        val planted = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact doc"), col("doc_id").cast("string"),
            lit("@example.com via https://example.org/d/"),
            col("doc_id").cast("string"),
            lit(" call +1 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.42")).as("text"))
        TextOps.redact(planted, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |  text || ' contact doc' || CAST(doc_id AS VARCHAR) ||
             |  '@example.com via https://example.org/d/' || CAST(doc_id AS VARCHAR) ||
             |  ' call +1 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.42' AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
             |  CAST(len(regexp_extract_all(text, '(\+?[0-9]{1,3}[-. (]{1,2})?[0-9]{3}[-. )]{1,2}[0-9]{3}[-. ]?[0-9]{4}')) AS BIGINT) AS n_phones,
             |  CAST(len(regexp_extract_all(text, '\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b')) AS BIGINT) AS n_ips,
             |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             |      'https?://[^ \t\n]+', '<URL>', 'g'),
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '(\+?[0-9]{1,3}[-. (]{1,2})?[0-9]{3}[-. )]{1,2}[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g'),
             |      '\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b', '<IP>', 'g')) AS redacted_fp
             |FROM planted ORDER BY doc_id""".stripMargin)),

    // GROUPED split (round 10): bucket on md5(source) so every doc of
    // a source lands in one split — the standard fix for the leakage
    // mode text_split_leakage audits (near-dups cluster within a
    // domain; per-doc hashing scatters a dup cluster across train and
    // test). A consistency bit pins the invariant in the output: every
    // source maps to exactly one split.
    Q("text_split_grouped",
      (s, dir) => TextOps.splitAssignGrouped(Tables.documents(s, dir),
          "doc_id", "source", 90, 5)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split"),
      Some("""WITH b AS (SELECT doc_id, source,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(source), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents)
             |SELECT source,
             |  CASE WHEN bucket < 90 THEN 'train'
             |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
             |  count(*) AS n_docs
             |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // Deterministic hash-based train/val/test split (90/5/5): bucket =
    // first 8 md5 hex digits of the id mod 100 — stable across runs,
    // partitionings, and engines
    Q("text_split_assign",
      (s, dir) => TextOps.splitAssign(Tables.documents(s, dir), "doc_id", 90, 5)
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents)
             |SELECT doc_id, bucket,
             |  CASE WHEN bucket < 90 THEN 'train'
             |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
             |FROM b ORDER BY doc_id""".stripMargin)),

    // Training-shard EGRESS round-trip: the pipeline's exit edge —
    // split-assign the corpus, write deterministic partitioned shards
    // (hash-bucketed per split, id-sorted within shard — diff-able
    // output files), read them back, return (doc_id, split, text
    // fingerprint). Oracle = recomputing the split + fingerprint from
    // the parquet truth: any row lost/duplicated/mangled by the shard
    // writer breaks the hash.
    Q("source_training_shards",
      (s, dir) => {
        val assigned = Tables.documents(s, dir)
          .join(TextOps.splitAssign(Tables.documents(s, dir), "doc_id", 90, 5)
            .select(col("doc_id"), col("split")), Seq("doc_id"))
          .select(col("doc_id"), col("text"), col("split"))
        val out = Tables.scratchDir("shards", dir)
        graft.sources.DocSources.writeTrainingShards(
          assigned, "doc_id", "split", out, 4)
        s.read.parquet(out)
          .select(col("doc_id"), col("split"),
            md5(col("text").cast("binary")).as("text_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents)
             |SELECT d.doc_id,
             |  CASE WHEN b.bucket < 90 THEN 'train'
             |       WHEN b.bucket < 95 THEN 'val' ELSE 'test' END AS split,
             |  md5(d.text) AS text_fp
             |FROM documents d JOIN b ON b.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // MODEL-BASED quality filter (CCNet / GPT-3 WebText-classifier
    // shape): train a Naive Bayes unigram classifier on a weak rule
    // label (stopword_ratio >= 0.03 — the corpus median, so both
    // classes are populated at every SF), score every doc with the
    // learned token weights. NB keeps train+score exact relational
    // algebra, so the driver oracle checks the MODEL, not just the
    // plumbing. Rides the Memo'd (id,w,tf) pass of the TF-IDF family.
    Q("text_quality_classifier",
      (s, dir) => nbScored(s, dir).orderBy("doc_id"),
      Some(s"""WITH lab AS (SELECT doc_id,
              |    round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) >= 0.03 AS label
              |  FROM documents),
              |tok AS (SELECT doc_id,
              |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              |  FROM documents),
              |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
              |tfl AS (SELECT tf.doc_id, tf.w, tf.tf, lab.label
              |        FROM tf JOIN lab USING (doc_id)),
              |cls AS (SELECT sum(CASE WHEN label THEN tf ELSE 0 END) AS n1,
              |               sum(CASE WHEN NOT label THEN tf ELSE 0 END) AS n0,
              |               count(DISTINCT w) AS v FROM tfl),
              |wt AS (SELECT w,
              |         CAST(round((ln((sum(CASE WHEN label THEN tf ELSE 0 END) + 1.0)
              |                        / (cls.n1 + cls.v))
              |                   - ln((sum(CASE WHEN NOT label THEN tf ELSE 0 END) + 1.0)
              |                        / (cls.n0 + cls.v))) * 1000000, 0) AS BIGINT) AS llr_micro
              |       FROM tfl, cls GROUP BY w, cls.n1, cls.n0, cls.v),
              |sc AS (SELECT tf.doc_id, sum(tf.tf * wt.llr_micro) AS s_micro
              |       FROM tf JOIN wt USING (w) GROUP BY 1),
              |pr AS (SELECT CAST(round(ln(greatest(sum(CASE WHEN label THEN 1 ELSE 0 END), 1) * 1.0
              |                / greatest(sum(CASE WHEN NOT label THEN 1 ELSE 0 END), 1)) * 1000000, 0)
              |         AS BIGINT) AS p_micro FROM lab)
              |SELECT lab.doc_id, lab.label AS label_weak,
              |  round((pr.p_micro + sc.s_micro) / 1000000.0, 6) AS nb_score,
              |  (pr.p_micro + sc.s_micro) > 0 AS nb_pass,
              |  ((pr.p_micro + sc.s_micro) > 0) = lab.label AS agree
              |FROM lab JOIN sc USING (doc_id), pr
              |ORDER BY lab.doc_id""".stripMargin)),

    // Score-bin lift/reliability table over the NB classifier (the
    // gains-table read before trusting the classifier as a filter).
    // Equal-width bins on the exact micro log-odds — a 1-row (min,max)
    // broadcast + integer binning, NOT a global-rank decile (the
    // one-partition-window anti-pattern); per-bin fractions are exact
    // count divisions.
    Q("text_classifier_lift",
      (s, dir) => TextOps.classifierLift(nbScored(s, dir),
          "nb_score", "label_weak", 8)
        .orderBy("bin"),
      Some(s"""WITH lab AS (SELECT doc_id,
              |    round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) >= 0.03 AS label
              |  FROM documents),
              |tok AS (SELECT doc_id,
              |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              |  FROM documents),
              |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
              |tfl AS (SELECT tf.doc_id, tf.w, tf.tf, lab.label
              |        FROM tf JOIN lab USING (doc_id)),
              |cls AS (SELECT sum(CASE WHEN label THEN tf ELSE 0 END) AS n1,
              |               sum(CASE WHEN NOT label THEN tf ELSE 0 END) AS n0,
              |               count(DISTINCT w) AS v FROM tfl),
              |wt AS (SELECT w,
              |         CAST(round((ln((sum(CASE WHEN label THEN tf ELSE 0 END) + 1.0)
              |                        / (cls.n1 + cls.v))
              |                   - ln((sum(CASE WHEN NOT label THEN tf ELSE 0 END) + 1.0)
              |                        / (cls.n0 + cls.v))) * 1000000, 0) AS BIGINT) AS llr_micro
              |       FROM tfl, cls GROUP BY w, cls.n1, cls.n0, cls.v),
              |sc AS (SELECT tf.doc_id, sum(tf.tf * wt.llr_micro) AS s_micro
              |       FROM tf JOIN wt USING (w) GROUP BY 1),
              |pr AS (SELECT CAST(round(ln(greatest(sum(CASE WHEN label THEN 1 ELSE 0 END), 1) * 1.0
              |                / greatest(sum(CASE WHEN NOT label THEN 1 ELSE 0 END), 1)) * 1000000, 0)
              |         AS BIGINT) AS p_micro FROM lab)  ,
              |t AS (SELECT CAST(pr.p_micro + sc.s_micro AS BIGINT) AS t, lab.label AS y
              |      FROM lab JOIN sc USING (doc_id), pr),
              |e AS (SELECT min(t) AS lo, max(t) AS hi, count(*) AS nn,
              |        sum(CASE WHEN y THEN 1 ELSE 0 END) AS np FROM t),
              |b AS (SELECT CASE WHEN e.hi = e.lo THEN 0
              |        ELSE least(7, (t.t - e.lo) * 8 // (e.hi - e.lo)) END AS bin,
              |        t.t, t.y, e.nn, e.np
              |      FROM t, e)
              |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              |  CAST(min(t) AS DOUBLE) / 1e6 AS score_lo,
              |  CAST(max(t) AS DOUBLE) / 1e6 AS score_hi,
              |  floor(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
              |    * 1e6 + 0.5) / 1e6 AS frac_pos,
              |  CASE WHEN max(np) = 0 THEN NULL
              |    ELSE floor(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
              |      / (CAST(max(np) AS DOUBLE) / CAST(max(nn) AS DOUBLE))
              |      * 1e6 + 0.5) / 1e6 END AS lift
              |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // Per-doc top-3 TF-IDF terms (tf × ln(N/df), ties by term) — the
    // classic content-keyword extractor; identical double math in both
    // engines makes even the ranking deterministic
    Q("text_tfidf",
      (s, dir) => TextOps.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rk"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |            FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
             |sc AS (SELECT doc_id, w, tf * ln(nn.n / df) AS tfidf,
             |         row_number() OVER (PARTITION BY doc_id
             |           ORDER BY tf * ln(nn.n / df) DESC, w) AS rk
             |       FROM tf JOIN dfq USING (w), nn)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk, w AS term,
             |       round(tfidf, 6) AS tfidf
             |FROM sc WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // BM25 top-k retrieval over the corpus for a fixed query set —
    // retrieval-based decontamination probe / eval-set builder shape.
    // Query terms are high-/mid-frequency corpus words so every query
    // retrieves a full k.
    Q("text_bm25_topk",
      (s, dir) => TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          Seq("q1" -> Seq("hash", "join"),
            "q2" -> Seq("slow", "scan", "filter"),
            "q3" -> Seq("vector", "batch", "customer")), 10)
        .orderBy("q_id", "rank"),
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
             |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
             |                 (SELECT avg(dl) FROM dl) AS avgdl),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |q(q_id, w) AS (VALUES ('q1','hash'),('q1','join'),
             |  ('q2','slow'),('q2','scan'),('q2','filter'),
             |  ('q3','vector'),('q3','batch'),('q3','customer')),
             |sc AS (SELECT q.q_id, tf.doc_id, tf.w,
             |         ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
             |         (tf.tf * 2.2) /
             |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS contrib
             |       FROM tf JOIN q USING (w) JOIN dfq USING (w)
             |       JOIN dl USING (doc_id), stats),
             |agg AS (SELECT q_id, doc_id,
             |          round(sum(contrib ORDER BY w), 4) AS score
             |        FROM sc GROUP BY 1, 2),
             |r AS (SELECT q_id, doc_id, score,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM agg)
             |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score
             |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // IR rank metrics (MRR / P@10 / nDCG@10, Järvelin & Kekäläinen
    // TOIS 2002) grading the BM25 lists against term-presence graded
    // qrels (rel = distinct query terms the doc contains) — the eval
    // face of the retrieval tier; every DCG term micro-quantized so
    // the per-query sums are exact integers. Shares text_bm25_topk's
    // fixture and Memo'd doc-length pass.
    Q("text_rank_metrics",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val terms = Seq("q1" -> Seq("hash", "join"),
          "q2" -> Seq("slow", "scan", "filter"),
          "q3" -> Seq("vector", "batch", "customer"))
        val ranked = TextOps.bm25TopK(docs, "doc_id", "text", terms, 10)
        val qt = terms.flatMap { case (q, ws) => ws.map(w => (q, w)) }
        val qtDf = s.createDataFrame(qt).toDF("q_id", "w")
        val qrels = TextOps.termFrequencies(docs, "doc_id", "text")
          .join(qtDf, "w").groupBy("q_id", "doc_id")
          .agg(countDistinct(col("w")).as("rel"))
        TextOps.rankMetrics(ranked, qrels, 10).orderBy("q_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
             |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
             |                 (SELECT avg(dl) FROM dl) AS avgdl),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |q(q_id, w) AS (VALUES ('q1','hash'),('q1','join'),
             |  ('q2','slow'),('q2','scan'),('q2','filter'),
             |  ('q3','vector'),('q3','batch'),('q3','customer')),
             |sc AS (SELECT q.q_id, tf.doc_id, tf.w,
             |         ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
             |         (tf.tf * 2.2) /
             |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS contrib
             |       FROM tf JOIN q USING (w) JOIN dfq USING (w)
             |       JOIN dl USING (doc_id), stats),
             |agg AS (SELECT q_id, doc_id,
             |          round(sum(contrib ORDER BY w), 4) AS score
             |        FROM sc GROUP BY 1, 2),
             |r AS (SELECT q_id, doc_id,
             |        row_number() OVER (PARTITION BY q_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM agg),
             |rk AS (SELECT q_id, doc_id, rank FROM r WHERE rank <= 10),
             |qr AS (SELECT q.q_id, tf.doc_id,
             |         CAST(count(DISTINCT tf.w) AS BIGINT) AS rel
             |       FROM tf JOIN q USING (w) GROUP BY 1, 2),
             |jj AS (SELECT rk.q_id, rk.rank, coalesce(qr.rel, 0) AS rel
             |       FROM rk LEFT JOIN qr
             |       ON qr.q_id = rk.q_id AND qr.doc_id = rk.doc_id),
             |per AS (SELECT q_id,
             |         min(CASE WHEN rel > 0 THEN rank END) AS fr,
             |         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |           AS n_rel_found,
             |         sum(CASE WHEN rel > 0 THEN
             |             CAST(round((pow(2, rel) - 1) / log2(rank + 1) * 1e6)
             |               AS BIGINT) ELSE 0 END) AS dcg
             |       FROM jj GROUP BY q_id),
             |id0 AS (SELECT q_id, list(rel ORDER BY rel DESC) AS rels
             |        FROM qr WHERE rel > 0 GROUP BY q_id),
             |idl AS (SELECT q_id,
             |          list_sum([CAST(round((pow(2, rels[i]) - 1)
             |              / log2(i + 1) * 1e6) AS BIGINT)
             |            for i in range(1, least(len(rels), 10) + 1)]) AS idcg
             |        FROM id0)
             |SELECT per.q_id, per.n_rel_found,
             |  floor((CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 / fr END)
             |    * 1e6 + 0.5) / 1e6 AS mrr,
             |  floor(CAST(n_rel_found AS DOUBLE) / 10.0 * 1e6 + 0.5) / 1e6
             |    AS p_at_k,
             |  floor((CASE WHEN idcg IS NULL OR idcg = 0 THEN 0.0
             |      ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END)
             |    * 1e6 + 0.5) / 1e6 AS ndcg
             |FROM per LEFT JOIN idl ON per.q_id = idl.q_id
             |ORDER BY per.q_id""".stripMargin)),

    // Hybrid retrieval (round 10): BM25 lexical ranks fused with
    // dense cosine ranks by reciprocal-rank fusion (Cormack et al.
    // SIGIR'09) — the modern RAG/search-serving shape, rank-based so
    // the two scores never need calibrating onto one scale. Lexical
    // side shares text_bm25_topk's term fixture (and its Memo'd
    // doc-length pass); dense side queries the embeddings of vec_id
    // 1..3 standing in for q1..q3 (doc_id == vec_id by fixture
    // construction). The oracle replays BOTH retrievers and the
    // fusion end-to-end.
    Q("sim_hybrid_rrf",
      (s, dir) => {
        val lex = TextOps.bm25TopK(Tables.documents(s, dir), "doc_id",
            "text", Seq("q1" -> Seq("hash", "join"),
              "q2" -> Seq("slow", "scan", "filter"),
              "q3" -> Seq("vector", "batch", "customer")), 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
        val dense = Similarity.bruteForceTopK(
            Tables.embeddings(s, dir), "vec_id", "embedding",
            "vec_id IN (1, 2, 3)", 10)
          .select(concat(lit("q"), col("q_id")).as("q_id"),
            col("n_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(Seq("dense" -> dense, "lex" -> lex), 10)
          .orderBy("q_id", "rank")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
             |stats AS (SELECT (SELECT count(*) FROM documents) AS n,
             |                 (SELECT avg(dl) FROM dl) AS avgdl),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |q(q_id, w) AS (VALUES ('q1','hash'),('q1','join'),
             |  ('q2','slow'),('q2','scan'),('q2','filter'),
             |  ('q3','vector'),('q3','batch'),('q3','customer')),
             |sc AS (SELECT q.q_id, tf.doc_id, tf.w,
             |         ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) *
             |         (tf.tf * 2.2) /
             |         (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS contrib
             |       FROM tf JOIN q USING (w) JOIN dfq USING (w)
             |       JOIN dl USING (doc_id), stats),
             |agg AS (SELECT q_id, doc_id,
             |          round(sum(contrib ORDER BY w), 4) AS score
             |        FROM sc GROUP BY 1, 2),
             |lexr AS (SELECT q_id, doc_id,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY score DESC, doc_id) AS rank
             |         FROM agg),
             |lex AS (SELECT q_id, doc_id, rank FROM lexr WHERE rank <= 10),
             |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |dsc AS (SELECT q.vec_id AS qv, e.vec_id AS doc_id,
             |          list_cosine_similarity(q.v, e.v) AS cosine
             |        FROM ev q JOIN ev e ON q.vec_id IN (1, 2, 3)
             |                           AND e.vec_id != q.vec_id),
             |dr AS (SELECT qv, doc_id,
             |         row_number() OVER (PARTITION BY qv
             |           ORDER BY cosine DESC, doc_id) AS rank
             |       FROM dsc),
             |dense AS (SELECT 'q' || CAST(qv AS VARCHAR) AS q_id, doc_id, rank
             |          FROM dr WHERE rank <= 10),
             |u AS (SELECT q_id, doc_id, 'lex' AS src,
             |        1.0 / (60 + rank) AS contrib FROM lex
             |      UNION ALL
             |      SELECT q_id, doc_id, 'dense', 1.0 / (60 + rank) FROM dense),
             |f AS (SELECT q_id, doc_id,
             |        round(sum(contrib ORDER BY src), 6) AS rrf,
             |        count(*) AS n_lists
             |      FROM u GROUP BY 1, 2),
             |fr AS (SELECT q_id, doc_id, rrf, n_lists,
             |         row_number() OVER (PARTITION BY q_id
             |           ORDER BY rrf DESC, doc_id) AS rank
             |       FROM f)
             |SELECT q_id, rank, doc_id, rrf, CAST(n_lists AS BIGINT) AS n_lists
             |FROM fr WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin)),

    // Stratified corpus sampling: downsample dominant English to 20%,
    // keep 60% of everything else — deterministic md5 buckets, no
    // randomness, pure map-side filter (no shuffle at any scale)
    Q("sample_stratified",
      (s, dir) => TextOps.sampleStratified(Tables.documents(s, dir),
          "doc_id", "lang", Map("en" -> 20), 60)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, lang,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents)
             |SELECT doc_id, lang FROM b
             |WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 60 END
             |ORDER BY doc_id""".stripMargin)),

    // Neyman-optimal audit-sample allocation (round 10 session 3,
    // [EXT]): per-source sample sizes for a 2000-doc labeling budget,
    // n_h ∝ N_h·S_h on document length vs naive proportional — the
    // survey-sampling answer to "where should audit label effort go".
    // All cross-strata arithmetic runs on micro-quantized integers;
    // the totals ride a 1-row broadcast.
    Q("sample_neyman",
      (s, dir) => TextOps.neymanAllocation(
          Tables.documents(s, dir).withColumn("__len", length(col("text"))),
          "source", "__len", 2000)
        .orderBy("stratum"),
      Some("""WITH per AS (SELECT source AS stratum, count(*) AS n_rows,
             |    sum(CAST(length(text) AS BIGINT)) AS s,
             |    sum(CAST(length(text) AS BIGINT)
             |      * CAST(length(text) AS BIGINT)) AS s2
             |  FROM documents
             |  WHERE source IS NOT NULL AND text IS NOT NULL
             |  GROUP BY source),
             |q AS (SELECT stratum, n_rows,
             |    CAST(floor(sqrt(greatest(
             |        CAST(s2 AS DOUBLE) * CAST(n_rows AS DOUBLE)
             |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 0.0)) / n_rows
             |      * 1e6 + 0.5) AS BIGINT) AS std6
             |  FROM per),
             |w AS (SELECT stratum, n_rows, std6, n_rows * std6 AS ns FROM q),
             |t AS (SELECT sum(n_rows) AS n, sum(ns) AS nst FROM w)
             |SELECT stratum, n_rows, CAST(std6 AS DOUBLE) / 1e6 AS std_value,
             |  least(n_rows, greatest(1, CAST(floor(
             |    2000 * CAST(n_rows AS DOUBLE) / n + 0.5) AS BIGINT)))
             |    AS alloc_prop,
             |  least(n_rows, greatest(1, CASE WHEN nst > 0
             |    THEN CAST(floor(2000 * CAST(ns AS DOUBLE) / nst + 0.5)
             |      AS BIGINT)
             |    ELSE CAST(floor(2000 * CAST(n_rows AS DOUBLE) / n + 0.5)
             |      AS BIGINT) END)) AS alloc_neyman
             |FROM w, t ORDER BY stratum""".stripMargin)),

    // Mixture reweighting (the data-mixing step): steer the kept
    // corpus toward target language shares — en downsampled, de
    // over-requested (rate caps at keep-everything), fr absent from
    // the targets (dropped, blocklist semantics)
    Q("sample_mixture",
      (s, dir) => TextOps.sampleMixture(Tables.documents(s, dir), "doc_id", "lang",
          Map("en" -> 0.25, "zh" -> 0.05, "es" -> 0.10, "de" -> 0.30))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang"),
      Some("""WITH t AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |g AS (SELECT count(*) AS N FROM documents),
             |tg(lang, share) AS (VALUES
             |  ('en', CAST(0.25 AS DOUBLE)), ('zh', CAST(0.05 AS DOUBLE)),
             |  ('es', CAST(0.10 AS DOUBLE)), ('de', CAST(0.30 AS DOUBLE))),
             |r AS (SELECT t.lang,
             |        least(10000, CAST(floor(coalesce(tg.share, 0.0) * g.N / t.n
             |          * 10000.0) AS BIGINT)) AS rate_bp
             |      FROM t CROSS JOIN g LEFT JOIN tg ON tg.lang = t.lang),
             |b AS (SELECT doc_id, lang,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 10000 AS BIGINT) AS bucket
             |  FROM documents)
             |SELECT b.lang AS lang, count(*) AS n_kept
             |FROM b JOIN r ON r.lang = b.lang
             |WHERE b.bucket < r.rate_bp
             |GROUP BY b.lang ORDER BY b.lang""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race), weight = token mass proxy n_chars: the
    // token-budgeted subsample draw. Deterministic md5 uniforms, 1e-9
    // floor-quantized arrival key; the plan is TakeOrderedAndProject
    // (per-partition k-heaps, only k rows per partition move — the
    // distributed reservoir, pinned in PlanSpec).
    Q("sample_weighted",
      (s, dir) => TextOps.sampleWeighted(
          Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", 100)
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, source, n_chars,
             |  CAST((SELECT sum((strpos('0123456789abcdef',
             |       substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |     FROM (SELECT unnest(range(8)) AS j)) AS DOUBLE) AS h
             |  FROM documents),
             |t AS (SELECT doc_id, source, n_chars,
             |  CAST(floor(-ln((h + 0.5) / 4294967296.0)
             |       / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS tt
             |  FROM b),
             |sel AS (SELECT doc_id, source, n_chars FROM t
             |        ORDER BY tt, doc_id LIMIT 100)
             |SELECT doc_id, source, n_chars FROM sel ORDER BY doc_id""".stripMargin)),

    // Per-source cap: keep the top-5 docs per source by length — the
    // domain-cap curation move. Two-phase salted top-n under the hood
    // (no single task sorts a hot source); ranks identical to a direct
    // window by construction, which is exactly what the oracle runs.
    Q("text_source_cap",
      (s, dir) => TextOps.sourceCap(Tables.documents(s, dir),
          "doc_id", "source", "n_chars", 5)
        .select("doc_id", "source", "n_chars", "rank")
        .orderBy("source", "rank"),
      Some("""WITH r AS (SELECT doc_id, source, n_chars,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rank
             |  FROM documents)
             |SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // Corpus-level n-gram duplication coverage (boilerplate signal):
    // fraction of each doc's shingles that appear in ≥1 other doc.
    // High coverage + no pairwise near-dup partner = assembled
    // boilerplate, invisible to pair-based dedup. Shares the memoized
    // shingle pass.
    Q("text_ngram_coverage",
      (s, dir) => TextOps.ngramCoverage(docShingles(s, dir), "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH $shingleCte,
              |dfr AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
              |cov AS (SELECT sh.doc_id, count(*) AS n_sh,
              |          count(*) FILTER (WHERE c >= 2) AS n_shared
              |        FROM sh JOIN dfr USING (s) GROUP BY sh.doc_id)
              |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
              |       CAST(n_shared AS BIGINT) AS n_shared,
              |       round(n_shared / n_sh, 6) AS dup_coverage
              |FROM cov ORDER BY doc_id""".stripMargin)),

    // Per-doc novelty against everything EARLIER (id order as arrival
    // order): fraction of a doc's shingles not seen in any smaller-id
    // doc — the curriculum/ordering view of duplication that pairwise
    // dedup doesn't give. Shares the memoized shingle pass.
    Q("text_novelty",
      (s, dir) => {
        val sh = docShingles(s, dir)
        val firstSeen = sh.groupBy(col("s"))
          .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("__first"))
        sh.join(firstSeen, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            count(org.apache.spark.sql.functions.when(
              col("__first") < col("doc_id"), 1)).as("n_seen_before"))
          .withColumn("novelty",
            round((col("n_shingles") - col("n_seen_before")) / col("n_shingles"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |fs AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
              |c AS (SELECT sh.doc_id, count(*) AS n_shingles,
              |        count(*) FILTER (WHERE first_doc < sh.doc_id) AS n_seen_before
              |      FROM sh JOIN fs USING (s) GROUP BY sh.doc_id)
              |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
              |       CAST(n_seen_before AS BIGINT) AS n_seen_before,
              |       round((n_shingles - n_seen_before) / n_shingles, 6) AS novelty
              |FROM c ORDER BY doc_id""".stripMargin)),

    // Per-source quality rollup: the dashboard a curation run ends
    // with — doc counts and mean quality signals per source
    // ONE-ROW corpus health report: the composed audit artifact a
    // curation run publishes at the top of its summary — size, exact
    // duplication, mean quality, language diversity — every number
    // engine-exact (integer micro-sums for the fp mean; the language
    // entropy is an ordered fold over lang, and IEEE negation symmetry
    // makes Spark's (acc - x) chain equal DuckDB's -(ordered sum)).
    Q("corpus_health_report",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val counts = docs.agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("__nd"))
        val tok = TextOps.tokenCounts(docs, "doc_id", "text")
          .agg(sum(col("n_ws")).as("n_tokens"))
        val q = TextOps.quality(docs, "doc_id", "text")
          .agg(sum(round(col("stopword_ratio") * 1e6, 0).cast("long")).as("__swm"))
        val langs = docs.groupBy("lang").agg(count(lit(1)).as("__c"))
          .agg(count(lit(1)).as("n_langs"),
            sort_array(collect_list(struct(col("lang"), col("__c")))).as("__lc"),
            sum(col("__c")).as("__tot"))
          .select(col("n_langs"),
            round(aggregate(col("__lc"), lit(0.0), (acc, x) =>
              acc - (x.getField("__c").cast("double") / col("__tot")) *
                log(x.getField("__c").cast("double") / col("__tot"))), 6)
              .as("lang_entropy"))
        counts.crossJoin(tok).crossJoin(q).crossJoin(langs)
          .select(col("n_docs"), col("n_tokens"),
            round(lit(1.0) - col("__nd").cast("double") / col("n_docs"), 6)
              .as("exact_dup_rate"),
            round(col("__swm").cast("double") / col("n_docs") / 1e6, 6)
              .as("mean_stopword_ratio"),
            col("n_langs"), col("lang_entropy"))
      },
      Some(s"""WITH q AS (SELECT doc_id,
              |    round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |          w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |          / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS sw
              |  FROM documents),
              |d AS (SELECT count(*) AS n_docs,
              |        count(DISTINCT md5(text)) AS nd FROM documents),
              |t AS (SELECT CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
              |        AS n_tokens FROM documents),
              |sm AS (SELECT CAST(sum(CAST(round(sw * 1000000, 0) AS BIGINT)) AS BIGINT)
              |         AS swm FROM q),
              |lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
              |le AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
              |         round(-(list_reduce(
              |           list((c * 1.0 / d.n_docs) * ln(c * 1.0 / d.n_docs) ORDER BY lang),
              |           (x, y) -> x + y)), 6) AS lang_entropy
              |       FROM lc, d GROUP BY d.n_docs)
              |SELECT d.n_docs, t.n_tokens,
              |       round(1.0 - nd * 1.0 / d.n_docs, 6) AS exact_dup_rate,
              |       round(sm.swm * 1.0 / d.n_docs / 1000000, 6) AS mean_stopword_ratio,
              |       le.n_langs, le.lang_entropy
              |FROM d, t, sm, le""".stripMargin)),

    // Pre-join explosion audit: exact per-key output cardinality of
    // the events sessionization SELF-join (out = c^2 per user) — the
    // run-this-first diagnosis for any 100-TB join. Two |keys|-row
    // count aggs + TakeOrderedAndProject; the table never shuffles
    // beyond its count agg.
    Q("profile_join_explosion",
      (s, dir) => graft.ops.SkewOps.joinExplosion(
          Tables.events(s, dir).select("user_id"),
          Tables.events(s, dir).select("user_id"), "user_id", 20)
        .orderBy(col("out_rows").desc, col("user_id")),
      Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events
             |  WHERE user_id IS NOT NULL GROUP BY user_id)
             |SELECT user_id, n AS n_left, n AS n_right, n * n AS out_rows
             |FROM c ORDER BY out_rows DESC, user_id LIMIT 20""".stripMargin)),

    Q("profile_source_quality",
      (s, dir) => {
        val q = TextOps.quality(Tables.documents(s, dir), "doc_id", "text")
        Tables.documents(s, dir).select(col("doc_id"), col("source"))
          .join(q, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(org.apache.spark.sql.functions.avg(col("chars")), 2).as("avg_chars"),
            round(org.apache.spark.sql.functions.avg(col("words")), 2).as("avg_words"),
            round(org.apache.spark.sql.functions.avg(col("stopword_ratio")), 6)
              .as("avg_stopword_ratio"))
          .orderBy("source")
      },
      Some(s"""WITH q AS (SELECT doc_id,
              |  CAST(length(text) AS BIGINT) AS chars,
              |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS words,
              |  round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |        w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |        / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS stopword_ratio
              |  FROM documents)
              |SELECT d.source, count(*) AS n_docs,
              |       round(avg(q.chars), 2) AS avg_chars,
              |       round(avg(q.words), 2) AS avg_words,
              |       round(avg(q.stopword_ratio), 6) AS avg_stopword_ratio
              |FROM documents d JOIN q ON q.doc_id = d.doc_id
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Key-distribution profiler: top-5 heavy hitters + share for the
    // three grouping keys this suite aggregates on. The planning pass
    // a 100-TB pipeline runs BEFORE committing to a partitioning.
    Q("profile_heavy_hitters",
      (s, dir) => graft.ops.SkewOps.heavyHitters(Seq(
          ("events.event_type", Tables.events(s, dir), "event_type"),
          ("documents.source", Tables.documents(s, dir), "source"),
          ("documents.lang", Tables.documents(s, dir), "lang")), 5)
        .orderBy("col", "rank"),
      Some("""WITH u AS (
             |  SELECT 'events.event_type' AS col, event_type AS value, count(*) AS cnt
             |    FROM events GROUP BY 2
             |  UNION ALL SELECT 'documents.source', source, count(*) FROM documents GROUP BY 2
             |  UNION ALL SELECT 'documents.lang', lang, count(*) FROM documents GROUP BY 2),
             |t AS (SELECT col, sum(cnt) AS tot FROM u GROUP BY col),
             |r AS (SELECT u.col, value, cnt, round(cnt / tot, 6) AS share,
             |        row_number() OVER (PARTITION BY u.col
             |          ORDER BY cnt DESC, value) AS rank
             |      FROM u JOIN t USING (col))
             |SELECT col, value, CAST(cnt AS BIGINT) AS cnt, share,
             |       CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5 ORDER BY col, rank""".stripMargin)),

    // Small-file compaction plan: per-(source, lang) byte masses
    // packed into 10 KB rewrite bins by deterministic next-fit over
    // the (bytes desc, cell) order — the metadata-sized remedy for
    // the warehouse small-file pathology. Cells above target flag
    // oversize (they need splitting, not packing). Pure integer
    // window arithmetic; both engines land on identical bins.
    Q("profile_compaction_plan",
      (s, dir) => graft.ops.Profile.compactionPlan(
          Tables.documents(s, dir).groupBy("source", "lang")
            .agg(sum(col("n_chars")).as("bytes")),
          Seq("source", "lang"), "bytes", 10000L)
        .orderBy(col("bin"), col("bytes").desc, col("source"), col("lang")),
      Some("""WITH c AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
             |           FROM documents GROUP BY source, lang),
             |s AS (SELECT source, lang, bytes,
             |        sum(bytes) OVER (ORDER BY bytes DESC, source, lang
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM c)
             |SELECT source, lang, bytes,
             |  CAST(floor(CAST(cum - bytes AS DOUBLE) / 10000) AS BIGINT) AS bin,
             |  bytes > 10000 AS oversize
             |FROM s ORDER BY bin, bytes DESC, source, lang""".stripMargin)),

    // Compaction EXECUTION (round 10): the planner's rewrite half —
    // each bin's cells co-written as one output partition, audited
    // from the READ-BACK artifact (a row lost or duplicated by the
    // rewrite breaks the audit, not a size estimate). The oracle
    // replays plan → cell-join → per-bin counts from the parquet truth.
    Q("profile_compaction_execute",
      (s, dir) => {
        val out = Tables.scratchDir("compact", dir)
        graft.ops.Profile.compactionExecute(
            Tables.documents(s, dir).select("doc_id", "source", "lang", "n_chars"),
            Seq("source", "lang"), "n_chars", 10000L, out)
          .orderBy("bin")
      },
      Some("""WITH c AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
             |           FROM documents GROUP BY source, lang),
             |s AS (SELECT source, lang, bytes,
             |        sum(bytes) OVER (ORDER BY bytes DESC, source, lang
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM c),
             |p AS (SELECT source, lang,
             |        CAST(floor(CAST(cum - bytes AS DOUBLE) / 10000) AS BIGINT) AS bin
             |      FROM s)
             |SELECT p.bin, count(DISTINCT (p.source, p.lang)) AS n_cells,
             |       count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS bytes
             |FROM documents d JOIN p ON d.source = p.source AND d.lang = p.lang
             |GROUP BY p.bin ORDER BY p.bin""".stripMargin)),

    // Partition-pruning audit (round 10, [EXT]): orders rewritten
    // month-partitioned, per-partition stats + pruned flag for a
    // `o_orderdate >= 1998-01-01` reader — the layout-vs-I/O audit;
    // ProfileSpec pins that Catalyst actually prunes the artifact's
    // partitions (PartitionFilters at the scan). Oracle replays the
    // month grouping from the parquet truth.
    // Referential-integrity audit (round 10 session 3, [EXT]): the
    // data-contract gate over the join graph. The TPC-H-ish fixture
    // is referentially clean by construction (every relation probed
    // reads 0 orphans), so the detector's FIRING case is pinned the
    // way text_stats_drift pins drift: the fourth relation audits a
    // deterministically-PERTURBED parent snapshot (every 10th
    // customer dropped — simulated partial dim-table loss) and must
    // read ok=false with the exact orphan count — the booleans are
    // mixed 3/1, non-vacuous. One anti-join + two map-side counts per
    // relation, |relations| output rows.
    Q("profile_fk_integrity",
      (s, dir) => graft.ops.Profile.fkIntegrity(Seq(
        ("events.user_id->customer.c_custkey",
          Tables.events(s, dir), "user_id",
          Tables.customer(s, dir), "c_custkey"),
        ("lineitem.l_orderkey->orders.o_orderkey",
          Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("orders.o_custkey->customer_LOSSY(c_custkey%10!=0)",
          Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir).filter(col("c_custkey") % 10 =!= 0),
          "c_custkey"))),
      Some("""WITH r1 AS (SELECT 'events.user_id->customer.c_custkey' AS relation,
             |    count(*) AS n_child,
             |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_null_keys,
             |    CAST(sum(CASE WHEN user_id IS NOT NULL AND NOT EXISTS
             |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
             |  FROM events e),
             |r4 AS (SELECT 'orders.o_custkey->customer_LOSSY(c_custkey%10!=0)',
             |    count(*),
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    CAST(sum(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS
             |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
             |         AND c.c_custkey % 10 != 0)
             |      THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders o),
             |r2 AS (SELECT 'lineitem.l_orderkey->orders.o_orderkey',
             |    count(*),
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND NOT EXISTS
             |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |      THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem l),
             |r3 AS (SELECT 'orders.o_custkey->customer.c_custkey',
             |    count(*),
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    CAST(sum(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS
             |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |      THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders o),
             |uni AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |        UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
             |SELECT relation, n_child, n_null_keys, n_orphans,
             |  n_orphans = 0 AS ok
             |FROM uni ORDER BY relation""".stripMargin)),

    // Z-order layout audit (round 10 session 3, [EXT]): the
    // multi-dimensional data-skipping decision — linear-by-x vs
    // Morton-interleaved bucketing of lineitem on (l_partkey,
    // l_suppkey), per-bucket min/max zone maps, and the fraction of
    // rows a zone-map reader fetches for an x-selective vs a
    // y-selective center band. The linear layout answers x_sel from a
    // sliver and reads ~everything for y_sel; z-order bounds BOTH.
    // Overflow-safe double-floor quantize (identical IEEE chain both
    // engines) + integer interleave (codegen'd HOF, no UDF), one
    // corpus pass + two map-side-combined groupBys onto <=64 rows.
    Q("profile_zorder_layout",
      (s, dir) => graft.ops.Layout.zorderAudit(
        Tables.lineitem(s, dir), "l_partkey", "l_suppkey", 64),
      Some("""WITH src AS (SELECT CAST(l_partkey AS BIGINT) AS x,
             |         CAST(l_suppkey AS BIGINT) AS y
             |       FROM lineitem
             |       WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
             |ext AS (SELECT min(x) xmin, max(x) xmax,
             |               min(y) ymin, max(y) ymax FROM src),
             |coded AS (SELECT
             |    CASE WHEN xmax > xmin
             |      THEN least(CAST(65535 AS BIGINT), greatest(CAST(0 AS BIGINT),
             |        CAST(floor((CAST(x AS DOUBLE) - CAST(xmin AS DOUBLE)) * 65535.0
             |          / (CAST(xmax AS DOUBLE) - CAST(xmin AS DOUBLE))) AS BIGINT)))
             |      ELSE 0 END AS x16,
             |    CASE WHEN ymax > ymin
             |      THEN least(CAST(65535 AS BIGINT), greatest(CAST(0 AS BIGINT),
             |        CAST(floor((CAST(y AS DOUBLE) - CAST(ymin AS DOUBLE)) * 65535.0
             |          / (CAST(ymax AS DOUBLE) - CAST(ymin AS DOUBLE))) AS BIGINT)))
             |      ELSE 0 END AS y16
             |  FROM src, ext),
             |coded2 AS (SELECT x16, y16,
             |    list_sum([ ((x16 >> i) & 1) * (1::BIGINT << (2*i))
             |             + ((y16 >> i) & 1) * (1::BIGINT << (2*i+1))
             |               for i in range(0, 16) ]) AS z
             |  FROM coded),
             |b AS (SELECT x16, y16,
             |        x16 // 1024 AS bl, z // 67108864 AS bz FROM coded2),
             |zones AS (
             |  SELECT 'linear_x' AS layout, bl AS bucket, count(*) AS nr,
             |    min(x16) bxmin, max(x16) bxmax, min(y16) bymin, max(y16) bymax
             |  FROM b GROUP BY bl
             |  UNION ALL
             |  SELECT 'zorder', bz, count(*),
             |    min(x16), max(x16), min(y16), max(y16)
             |  FROM b GROUP BY bz),
             |a AS (
             |  SELECT layout, 'x_sel' AS pred, count(*) AS n_buckets,
             |    CAST(sum(nr) AS BIGINT) AS total_rows,
             |    CAST(sum(CASE WHEN bxmax >= 29491 AND bxmin <= 36044
             |      THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
             |    CAST(sum(CASE WHEN bxmax >= 29491 AND bxmin <= 36044
             |      THEN nr ELSE 0 END) AS BIGINT) AS rows_read
             |  FROM zones GROUP BY layout
             |  UNION ALL
             |  SELECT layout, 'y_sel', count(*), CAST(sum(nr) AS BIGINT),
             |    CAST(sum(CASE WHEN bymax >= 29491 AND bymin <= 36044
             |      THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(sum(CASE WHEN bymax >= 29491 AND bymin <= 36044
             |      THEN nr ELSE 0 END) AS BIGINT)
             |  FROM zones GROUP BY layout)
             |SELECT layout, pred, n_buckets, total_rows, buckets_read,
             |  rows_read,
             |  floor(CAST(rows_read AS DOUBLE) / total_rows * 1e6 + 0.5) / 1e6
             |    AS read_frac
             |FROM a ORDER BY layout, pred""".stripMargin)),

    Q("profile_partition_prune",
      (s, dir) => {
        val out = Tables.scratchDir("prune", dir)
        graft.ops.Profile.partitionPruneAudit(
            Tables.orders(s, dir), "o_orderdate", "1998-01-01", out)
          .orderBy("ym")
      },
      Some("""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
             |  count(*) AS n_rows,
             |  min(epoch_us(o_orderdate)) AS min_ts_us,
             |  max(epoch_us(o_orderdate)) AS max_ts_us,
             |  max(epoch_us(o_orderdate)) < epoch_us(TIMESTAMP '1998-01-01') AS pruned
             |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin)),

    // Per-column null/missing profile: the pre-flight data-quality scan
    // (one single-pass aggregation per table, all columns in parallel)
    Q("profile_null_ratios",
      (s, dir) => graft.ops.Profile.nullRatios(Seq(
          ("events", Tables.events(s, dir)),
          ("documents", Tables.documents(s, dir))))
        .orderBy("tbl", "col"),
      Some("""WITH t(tbl, col, n_rows, n_null) AS (
             |  SELECT 'events', 'event_id', count(*),
             |    count(*) FILTER (WHERE event_id IS NULL) FROM events
             |  UNION ALL SELECT 'events', 'ts', count(*),
             |    count(*) FILTER (WHERE ts IS NULL) FROM events
             |  UNION ALL SELECT 'events', 'user_id', count(*),
             |    count(*) FILTER (WHERE user_id IS NULL) FROM events
             |  UNION ALL SELECT 'events', 'event_type', count(*),
             |    count(*) FILTER (WHERE event_type IS NULL) FROM events
             |  UNION ALL SELECT 'events', 'value', count(*),
             |    count(*) FILTER (WHERE value IS NULL) FROM events
             |  UNION ALL SELECT 'events', 'props', count(*),
             |    count(*) FILTER (WHERE props IS NULL) FROM events
             |  UNION ALL SELECT 'documents', 'doc_id', count(*),
             |    count(*) FILTER (WHERE doc_id IS NULL) FROM documents
             |  UNION ALL SELECT 'documents', 'text', count(*),
             |    count(*) FILTER (WHERE text IS NULL) FROM documents
             |  UNION ALL SELECT 'documents', 'lang', count(*),
             |    count(*) FILTER (WHERE lang IS NULL) FROM documents
             |  UNION ALL SELECT 'documents', 'source', count(*),
             |    count(*) FILTER (WHERE source IS NULL) FROM documents
             |  UNION ALL SELECT 'documents', 'n_chars', count(*),
             |    count(*) FILTER (WHERE n_chars IS NULL) FROM documents)
             |SELECT tbl, col, n_rows, n_null,
             |       round(n_null / n_rows, 6) AS null_ratio
             |FROM t ORDER BY tbl, col""".stripMargin)),

    // Benford first-digit audit (round 10, [EXT]): the data-quality /
    // fabrication screen over a monetary column — observed leading
    // significant digit distribution vs Benford's log10(1 + 1/d).
    // The digit comes from the INTEGER cents via string head (no
    // cross-engine log10-of-data risk: log10 only touches the nine
    // digit constants); freq is one integer-ratio division on the
    // floor halfway rule. One map-side-combined 9-group aggregate.
    Q("profile_benford",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        val w = Window.partitionBy() // 9 rows
        li.filter(col("l_extendedprice") > 0)
          .select(substring(round(col("l_extendedprice") * 100).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
          .withColumn("freq",
            floor(col("n").cast("double") / sum(col("n")).over(w)
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .withColumn("expected",
            floor(expr("log10(1.0D + 1.0D / CAST(digit AS DOUBLE))")
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .orderBy("digit")
      },
      Some("""WITH c AS (SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100)
             |            AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
             |           FROM lineitem WHERE l_extendedprice > 0),
             |g AS (SELECT digit, count(*) AS n FROM c GROUP BY digit)
             |SELECT digit, n,
             |  floor(CAST(n AS DOUBLE) / sum(n) OVER () * 1e6 + 0.5) / 1e6 AS freq,
             |  floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6 + 0.5) / 1e6
             |    AS expected
             |FROM g ORDER BY digit""".stripMargin)),

    // k-anonymity / l-diversity audit (round 10, [EXT]): the privacy
    // pre-flight a training-data release runs — group sizes over the
    // quasi-identifier tuple (nation, segment) and the distinct count
    // of a bucketed sensitive attribute (acctbal per-1000 bucket) per
    // QI group. A group of size < k re-identifies its members; a group
    // with one sensitive bucket leaks the attribute even at size ≥ k.
    // One shuffle onto the QI key (partial-agg map-side combine);
    // counts exact, nothing floating.
    Q("profile_k_anonymity",
      (s, dir) => s.read.parquet(s"$dir/customer.parquet")
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("group_n"),
          countDistinct(floor(col("c_acctbal") / 1000.0).cast("long"))
            .as("bal_buckets"))
        .withColumn("k_anon", col("group_n") >= 5)
        .withColumn("l_diverse", col("bal_buckets") >= 3)
        .orderBy("nation", "segment"),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |       c_mktsegment AS segment, count(*) AS group_n,
             |       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
             |         AS bal_buckets,
             |       count(*) >= 5 AS k_anon,
             |       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
             |         AS l_diverse
             |FROM customer GROUP BY 1, 2 ORDER BY nation, segment""".stripMargin)),

    // Pairwise Pearson correlations over the lineitem numerics — the
    // feature-redundancy pre-flight scan (all 6 pairs as parallel
    // aggregates of ONE pass; no shuffle of the rows)
    Q("profile_correlations",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
          yield (cols(i), cols(j))
        val aggs = pairs.map { case (a, b) =>
          round(corr(col(a), col(b)), 6).as(s"${a}__$b") }
        Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${pairs.size}, ${pairs.map { case (a, b) =>
            s"'$a', '$b', ${a}__$b" }.mkString(", ")}) AS (col_a, col_b, corr)")
          .orderBy("col_a", "col_b")
      },
      Some("""SELECT * FROM (
             |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             |         round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_discount',
             |         round(corr(l_quantity, l_discount), 6) FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_tax',
             |         round(corr(l_quantity, l_tax), 6) FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
             |         round(corr(l_extendedprice, l_discount), 6) FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
             |         round(corr(l_extendedprice, l_tax), 6) FROM lineitem
             |  UNION ALL SELECT 'l_discount', 'l_tax',
             |         round(corr(l_discount, l_tax), 6) FROM lineitem)
             |ORDER BY col_a, col_b""".stripMargin)),

    // Count-min-sketch frequency estimates for the event_type keys:
    // ONE distributive sketch pass replaces the exact groupBy at
    // corpus scale. In the profiled-keys regime (distinct keys ≪
    // 2/eps) estimates equal exact counts — the oracle asserts exactly
    // that; the overcount bound on a planted wide key set is
    // spec-tested in PlanSpec's sibling suite.
    Q("profile_cms_counts",
      (s, dir) => graft.ops.SkewOps.cmsEstimates(
          Tables.events(s, dir), "event_type", 0.001, 0.99, 42)
        .orderBy("value"),
      Some("""SELECT CAST(event_type AS VARCHAR) AS value,
             |       count(*) AS est_count
             |FROM events GROUP BY 1 ORDER BY value""".stripMargin)),

    // Embedding-corpus pre-flight profile: dims, norm distribution,
    // degenerate vectors — one pass, parallel aggregates, no shuffle
    Q("profile_embedding_norms",
      (s, dir) => graft.ops.Profile.embeddingProfile(
          Tables.embeddings(s, dir), "embedding"),
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
             |SELECT count(*) AS n,
             |       CAST(min(len(v)) AS BIGINT) AS dim_min,
             |       CAST(max(len(v)) AS BIGINT) AS dim_max,
             |       round(avg(nrm), 6) AS avg_norm,
             |       round(min(nrm), 6) AS min_norm,
             |       round(max(nrm), 6) AS max_norm,
             |       count(*) FILTER (WHERE nrm = 0) AS n_zero,
             |       count(*) FILTER (WHERE isnan(nrm)) AS n_nan,
             |       count(*) FILTER (WHERE isinf(nrm)) AS n_inf
             |FROM n""".stripMargin)),

    // Per-domain URL profile (blocklist / domain-cap pre-pass). The
    // synthetic corpus contains no URLs, so each doc plants two with
    // deterministic id-derived hosts — 20 site domains, 5 cdn domains.
    Q("text_url_domains",
      (s, dir) => {
        val planted = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" see https://site"),
            (col("doc_id") % 20).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string"),
            lit(" and http://cdn"), (col("doc_id") % 5).cast("string"),
            lit(".example.org/x")).as("text"))
        TextOps.urlDomains(planted, "doc_id", "text").orderBy("domain")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |  text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR) ||
             |  '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
             |  ' and http://cdn' || CAST(doc_id % 5 AS VARCHAR) ||
             |  '.example.org/x' AS text FROM documents),
             |u AS (SELECT doc_id,
             |        unnest(regexp_extract_all(text, 'https?://([^/ \t\n]+)', 1)) AS domain
             |      FROM planted)
             |SELECT domain, count(*) AS n_urls,
             |       count(DISTINCT doc_id) AS n_docs
             |FROM u GROUP BY domain ORDER BY domain""".stripMargin)),

    // URL canonicalization + url-level dedup — the crawl-pipeline step
    // BEFORE any text dedup. Each doc plants one messy URL (closed-form
    // variants of the id: upper/lower scheme and host, explicit default
    // port, trailing slash, shuffled tracking params, fragment); the
    // canonicalizer — pure codegen'd regexp/HOF column work — is on
    // trial against the closed-form expected canonical, which the
    // oracle recomputes directly from doc_id without reimplementing the
    // parser. Same-page variants (id mod lcm(160,7)=1120) collapse to
    // a min-id keeper.
    Q("text_url_dedup",
      (s, dir) => {
        val d = col("doc_id")
        val messy = Tables.documents(s, dir).select(d,
          concat(
            when(d % 2 === 0, lit("https")).otherwise(lit("HTTPS")),
            lit("://"),
            when(d % 3 === 0,
                upper(concat(lit("www.site"), (d % 40).cast("string"), lit(".com"))))
              .otherwise(concat(lit("www.site"), (d % 40).cast("string"), lit(".com"))),
            when(d % 5 === 0, lit(":443")).otherwise(lit("")),
            lit("/articles/item"), (d % 160).cast("string"),
            when(d % 4 === 0, lit("/")).otherwise(lit("")),
            when(d % 2 === 0,
                concat(lit("?utm_source=feed&ref="), (d % 7).cast("string")))
              .otherwise(concat(lit("?ref="), (d % 7).cast("string"),
                lit("&utm_campaign=x"))),
            when(d % 6 === 0, lit("#section2")).otherwise(lit(""))).as("url"))
        TextOps.urlDedup(messy, "doc_id", "url").orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
             |    (CASE WHEN doc_id % 3 = 0
             |          THEN upper('www.site' || CAST(doc_id % 40 AS VARCHAR) || '.com')
             |          ELSE 'www.site' || CAST(doc_id % 40 AS VARCHAR) || '.com' END) ||
             |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
             |    '/articles/item' || CAST(doc_id % 160 AS VARCHAR) ||
             |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
             |    (CASE WHEN doc_id % 2 = 0
             |          THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
             |          ELSE '?ref=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x' END) ||
             |    (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END) AS url,
             |    'https://www.site' || CAST(doc_id % 40 AS VARCHAR) ||
             |    '.com/articles/item' || CAST(doc_id % 160 AS VARCHAR) ||
             |    '?ref=' || CAST(doc_id % 7 AS VARCHAR) AS canon_url
             |  FROM documents)
             |SELECT doc_id, url, canon_url,
             |  min(doc_id) OVER (PARTITION BY canon_url) AS keep_id,
             |  (doc_id = min(doc_id) OVER (PARTITION BY canon_url)) AS keep,
             |  count(*) OVER (PARTITION BY canon_url) AS n_variants
             |FROM u ORDER BY doc_id""".stripMargin)),

    // Greedy token packing into ~2048-token training bins. The window
    // partitions on the 100-value HASH BUCKET, not the 3-value split:
    // each bucket packs independently (bucket ⇒ split, so bins never
    // straddle splits) and the sort work spreads over 100 partitions —
    // a 3-way split key would funnel a corpus-scale sort into 3 tasks.
    Q("text_pack_bins",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val withTok = docs.select(col("doc_id"),
          ceil(length(col("text")) / 4.0).cast("long").as("n_tokens"))
        // splitAssign's own split column rides through packBins — the
        // bucket→split mapping lives in ONE Scala definition
        val joined = withTok.join(
          TextOps.splitAssign(docs, "doc_id").select("doc_id", "bucket", "split"),
          "doc_id")
        TextOps.packBins(joined, "doc_id", "n_tokens", "bucket", 2048L)
          .select("doc_id", "bucket", "split", "n_tokens", "bin")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, CAST(ceil(length(text)/4.0) AS BIGINT) AS n_tokens,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents),
             |s AS (SELECT doc_id, n_tokens, bucket,
             |        CASE WHEN bucket < 90 THEN 'train'
             |             WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
             |      FROM b),
             |c AS (SELECT doc_id, bucket, split, n_tokens,
             |        coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             |      FROM s)
             |SELECT doc_id, bucket, split, n_tokens,
             |       CAST(floor(bef / 2048) AS BIGINT) AS bin
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Packed-sequence boundary artifact: per (bucket, bin) the ordered
    // doc start offsets — the attention-mask reset points a trainer
    // consumes next to the packed bins. Deterministic id@offset;...
    // string via sorted-struct assembly.
    Q("text_pack_boundaries",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val withTok = docs.select(col("doc_id"),
          ceil(length(col("text")) / 4.0).cast("long").as("n_tokens"))
        val joined = withTok.join(
          TextOps.splitAssign(docs, "doc_id").select("doc_id", "bucket"),
          "doc_id")
        TextOps.packedBoundaries(joined, "doc_id", "n_tokens", "bucket", 2048L)
          .orderBy("bucket", "bin")
      },
      Some("""WITH b AS (SELECT doc_id, CAST(ceil(length(text)/4.0) AS BIGINT) AS n_tokens,
             |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
             |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
             |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
             |  FROM documents),
             |c AS (SELECT doc_id, bucket, n_tokens,
             |        coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             |      FROM b),
             |o AS (SELECT doc_id, bucket, n_tokens,
             |        CAST(floor(bef / 2048) AS BIGINT) AS bin,
             |        bef - CAST(floor(bef / 2048) AS BIGINT) * 2048 AS off
             |      FROM c)
             |SELECT bucket, bin, count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
             |  string_agg(CAST(doc_id AS VARCHAR) || '@' || CAST(off AS VARCHAR),
             |    ';' ORDER BY off, doc_id) AS doc_offsets
             |FROM o GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin)),

    // Corpus snapshot diff: the daily-delta audit — today's simulated
    // snapshot drops ids % 13 == 0, appends ' v2' to surviving
    // ids % 17 == 0 (content change), and clones ids % 31 == 0 as new
    // +1000000 docs. Per-id added/removed/changed/unchanged status
    // from canonical fingerprints; tells an incremental pipeline what
    // to re-embed/re-dedup instead of rebuilding. Registered BEFORE
    // pipeline_refresh: this Memo'd builder runs first, so its cold
    // time is the real snapshot-diff cost.
    // Per-source stats drift between snapshots (the text twin of
    // sim_dim_drift): snapshot B deterministically perturbs the
    // corpus — %13 ids dropped, %17 texts doubled (length shift),
    // source src19 vanished entirely. Two map-side-combined groupBys
    // + a |sources|-row full-outer join; the corpora never join.
    Q("text_stats_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val b = docs.filter(col("doc_id") % 13 =!= 0 &&
            col("source") =!= "src19")
          .withColumn("text", when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))
        TextOps.statsDrift(docs, b, "source", "text").orderBy("source")
      },
      Some("""WITH b AS (SELECT source,
             |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || text ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 != 0 AND source != 'src19'),
             |sa AS (SELECT source, count(*) AS n_a, sum(length(text)) AS chars_a
             |       FROM documents GROUP BY source),
             |sb AS (SELECT source, count(*) AS n_b, sum(length(text)) AS chars_b
             |       FROM b GROUP BY source),
             |j AS (SELECT coalesce(sa.source, sb.source) AS source,
             |        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
             |        chars_a, chars_b
             |      FROM sa FULL OUTER JOIN sb ON sa.source = sb.source)
             |SELECT source, n_a, n_b,
             |  CASE WHEN n_a > 0 THEN round(chars_a / n_a, 6) END AS mean_len_a,
             |  CASE WHEN n_b > 0 THEN round(chars_b / n_b, 6) END AS mean_len_b,
             |  coalesce(abs(chars_b / n_b - chars_a / n_a)
             |    > 0.05 * (chars_a / n_a), TRUE) AS len_drift,
             |  n_b < 0.9 * n_a AS coverage_drift
             |FROM j ORDER BY source""".stripMargin)),

    Q("text_corpus_diff",
      (s, dir) => snapshotDiff(s, dir).select("doc_id", "status")
        .orderBy("doc_id"),
      Some("""WITH old AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ofp
             |  FROM documents),
             |nw AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(
             |      CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END),
             |      '\s+', ' ', 'g'))) AS nfp
             |  FROM documents WHERE doc_id % 13 != 0
             |  UNION ALL
             |  SELECT doc_id + 1000000,
             |    md5(trim(regexp_replace(lower('new doc ' || text), '\s+', ' ', 'g')))
             |  FROM documents WHERE doc_id % 31 = 0),
             |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.ofp, n.nfp
             |      FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
             |SELECT doc_id,
             |  CASE WHEN ofp IS NULL THEN 'added'
             |       WHEN nfp IS NULL THEN 'removed'
             |       WHEN ofp != nfp THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM j ORDER BY doc_id""".stripMargin)),

    // ROUND-6 REFRESH PIPELINE: the incremental composition a crawl
    // refresh actually runs — snapshot diff (process only added/changed
    // docs) → url-level dedup on the delta → quality gate at the
    // delta's own calibrated p10 cutoff → packed-boundary artifact for
    // the re-train shard. Proves the round-6 stages COMPOSE; every
    // stage is the same public operator the standalone queries use.
    // The oracle derives the delta from the snapshot construction's
    // closed form (fingerprint-differs ⇔ text edited, by construction).
    Q("pipeline_refresh",
      (s, dir) => {
        val d = col("doc_id")
        val delta = snapshotDiff(s, dir)
          .filter(col("status").isin("added", "changed"))
          .select("doc_id", "text")
        val withUrl = delta.withColumn("url", concat(
          when(d % 2 === 0, lit("https")).otherwise(lit("HTTPS")), lit("://"),
          when(d % 3 === 0,
              upper(concat(lit("www.site"), (d % 40).cast("string"), lit(".com"))))
            .otherwise(concat(lit("www.site"), (d % 40).cast("string"), lit(".com"))),
          lit("/articles/item"), (d % 160).cast("string"),
          when(d % 2 === 0,
              concat(lit("?utm_source=feed&ref="), (d % 7).cast("string")))
            .otherwise(concat(lit("?ref="), (d % 7).cast("string"),
              lit("&utm_campaign=x")))))
        val urlKept = TextOps.urlDedup(withUrl.select(col("doc_id"), col("url")),
            "doc_id", "url")
          .filter(col("keep")).select("doc_id")
        val survivors = delta.join(urlKept, "doc_id")
        // quality is computed ONCE; the cutoff and the per-doc gate
        // both derive from the same scored frame
        val scored = TextOps.quality(survivors, "doc_id", "text")
          .select(col("doc_id"), col("stopword_ratio").as("score"))
          .withColumn("src", lit("all"))
        val cut = TextOps.calibrateScores(scored, "doc_id", "src")
          .select(col("p10"))
        import org.apache.spark.sql.functions.broadcast
        val gatedSurv = survivors.join(
          scored.crossJoin(broadcast(cut))
            .filter(col("score") >= col("p10")).select("doc_id"), "doc_id")
        val withTok = gatedSurv
          .select(col("doc_id"),
            ceil(length(col("text")) / 4.0).cast("long").as("n_tokens"))
          .join(TextOps.splitAssign(gatedSurv, "doc_id")
            .select("doc_id", "bucket"), "doc_id")
        TextOps.packedBoundaries(withTok, "doc_id", "n_tokens", "bucket", 2048L)
          .orderBy("bucket", "bin")
      },
      Some(s"""WITH delta AS (
              |  SELECT doc_id, text || ' v2' AS text FROM documents
              |    WHERE doc_id % 17 = 0 AND doc_id % 13 != 0
              |  UNION ALL
              |  SELECT doc_id + 1000000, 'new doc ' || text FROM documents
              |    WHERE doc_id % 31 = 0),
              |uk AS (SELECT doc_id, text,
              |         row_number() OVER (PARTITION BY
              |           'https://www.site' || CAST(doc_id % 40 AS VARCHAR) ||
              |           '.com/articles/item' || CAST(doc_id % 160 AS VARCHAR) ||
              |           '?ref=' || CAST(doc_id % 7 AS VARCHAR)
              |           ORDER BY doc_id) AS rk
              |       FROM delta),
              |surv AS (SELECT doc_id, text FROM uk WHERE rk = 1),
              |q AS (SELECT doc_id, text,
              |        round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |            w -> list_contains(${TextOps.stopwordArraySql}, w)))
              |          / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS score
              |      FROM surv),
              |r AS (SELECT doc_id, text, score,
              |        row_number() OVER (ORDER BY score, doc_id) AS rn,
              |        count(*) OVER () AS n
              |      FROM q),
              |cut AS (SELECT max(CASE WHEN rn = (n + 9) // 10 THEN score END) AS p10 FROM r),
              |gated AS (SELECT doc_id, text FROM r, cut WHERE score >= cut.p10),
              |b AS (SELECT doc_id, CAST(ceil(length(text)/4.0) AS BIGINT) AS n_tokens,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
              |  FROM gated),
              |c AS (SELECT doc_id, bucket, n_tokens,
              |        coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              |      FROM b),
              |o AS (SELECT doc_id, bucket, n_tokens,
              |        CAST(floor(bef / 2048) AS BIGINT) AS bin,
              |        bef - CAST(floor(bef / 2048) AS BIGINT) * 2048 AS off
              |      FROM c)
              |SELECT bucket, bin, count(*) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
              |  string_agg(CAST(doc_id AS VARCHAR) || '@' || CAST(off AS VARCHAR),
              |    ';' ORDER BY off, doc_id) AS doc_offsets
              |FROM o GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin)),

    // END-TO-END CURATION PIPELINE (the composition a training-data
    // build actually ships): near-dedup keep-list (MinHash-LSH pairs →
    // closure, Memo-shared with the standalone queries) → quality
    // filter (≥ 20 words) → deterministic train/val/test split →
    // greedy token packing per hash bucket. One oracle-checked query
    // proves the stages COMPOSE — same bucket→split→bin invariants as
    // the standalone forms, over the deduped+filtered survivor set.
    Q("pipeline_curate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val keep = Dedup.dedupGroups(docs, "doc_id", minhashPairs(s, dir))
          .filter(col("keep")).select("doc_id")
        val kept = docs.join(keep, "doc_id")
          .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 20)
        val withTok = kept.select(col("doc_id"),
          ceil(length(col("text")) / 4.0).cast("long").as("n_tokens"))
        val joined = withTok.join(
          TextOps.splitAssign(kept, "doc_id").select("doc_id", "bucket", "split"),
          "doc_id")
        TextOps.packBins(joined, "doc_id", "n_tokens", "bucket", 2048L)
          .select("doc_id", "split", "bucket", "n_tokens", "bin")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS mv
              |       FROM sh, (SELECT unnest(range(8)) AS h) GROUP BY doc_id, h),
              |bands AS (SELECT doc_id, h // 2 AS band,
              |            string_agg(mv, '' ORDER BY h) AS key
              |          FROM mh GROUP BY doc_id, h // 2),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bands a JOIN bands b
              |         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
              |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              |          FROM cand c JOIN sh x ON x.doc_id = c.id_a
              |          JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
              |          GROUP BY c.id_a, c.id_b),
              |pairs AS (SELECT id_a, id_b FROM inter
              |          JOIN ns na ON na.doc_id = id_a JOIN ns nb ON nb.doc_id = id_b
              |          WHERE i / (na.n + nb.n - i) >= 0.5),
              |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |reach AS (SELECT a AS id, b AS r FROM edges
              |          UNION
              |          SELECT rc.id, e2.b FROM reach rc JOIN edges e2 ON rc.r = e2.a),
              |lab AS (SELECT id, min(r) AS m FROM reach GROUP BY id),
              |f AS (SELECT d.doc_id, d.text FROM documents d
              |      LEFT JOIN lab l ON l.id = d.doc_id
              |      WHERE coalesce(least(l.m, d.doc_id), d.doc_id) = d.doc_id
              |      AND len(string_split_regex(lower(trim(d.text)), '\\s+')) >= 20),
              |bk AS (SELECT doc_id, CAST(ceil(length(text)/4.0) AS BIGINT) AS n_tokens,
              |  CAST(CAST((SELECT sum((strpos('0123456789abcdef',
              |         substr(md5(CAST(doc_id AS VARCHAR)), j+1, 1)) - 1) * power(16, 7-j))
              |       FROM (SELECT unnest(range(8)) AS j)) AS BIGINT) % 100 AS INT) AS bucket
              |  FROM f),
              |sp AS (SELECT doc_id, n_tokens, bucket,
              |         CASE WHEN bucket < 90 THEN 'train'
              |              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
              |       FROM bk),
              |cm AS (SELECT doc_id, split, bucket, n_tokens,
              |         coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              |       FROM sp)
              |SELECT doc_id, split, bucket, n_tokens,
              |       CAST(floor(bef / 2048) AS BIGINT) AS bin
              |FROM cm ORDER BY doc_id""".stripMargin)),

    // Winnowing rolling-hash fingerprints (k=8 char-grams, window 4)
    Q("text_winnowing",
      (s, dir) => TextOps.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              |           FROM documents),
              |g AS (SELECT doc_id, i,
              |        ${(0 until 8).map(j => s"CAST(ascii(substr(t, CAST(i + $j AS INT), 1)) AS BIGINT) * ${math.pow(31, 7 - j).toLong}").mkString(" + ")} AS hv
              |      FROM c, LATERAL (SELECT unnest(range(1, length(t) - 6)) AS i) u
              |      WHERE length(t) >= 8),
              |wm AS (SELECT doc_id, hv,
              |         min(hv) OVER (PARTITION BY doc_id ORDER BY i
              |                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
              |       FROM g),
              |sel AS (SELECT DISTINCT doc_id, hv FROM wm WHERE hv = wmin)
              |SELECT doc_id, count(*) AS n_fp, min(hv) AS fp_min, max(hv) AS fp_max,
              |       CAST(sum(hv) AS BIGINT) AS fp_sum
              |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Canonical fingerprint: md5 of whitespace-collapsed lowercase text
    Q("text_fingerprint",
      (s, dir) => TextOps.fingerprint(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: docs with doc_id % 50 == 0 stand in
    // for the held-out eval set; every train doc sharing a 3-word
    // shingle with any eval doc is flagged. Shares the memoized
    // shingle pass; the eval shingle set is broadcast (a benchmark
    // suite is megabytes against a 100-TB corpus).
    Q("text_decontaminate",
      (s, dir) => TextOps.decontaminate(docShingles(s, dir), "doc_id",
          col("doc_id") % 50 === 0)
        .orderBy("doc_id"),
      Some(s"""WITH $shingleCte,
              |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
              |c AS (SELECT t.doc_id, count(*) AS n_shingles,
              |        count(ev.s) AS n_eval_hits
              |      FROM (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0) t
              |      LEFT JOIN ev ON t.s = ev.s
              |      GROUP BY t.doc_id)
              |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
              |       CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
              |       n_eval_hits > 0 AS contaminated
              |FROM c ORDER BY doc_id""".stripMargin)),

    // Composed contamination REPORT: n-gram decontamination × embedding
    // contamination per train doc with a combined verdict
    // (ngram/embedding/both/clean) — the audit artifact a training run
    // publishes; both arms are the already-oracle'd operators composed,
    // joined on the shared doc/vec id space
    Q("text_contamination_report",
      (s, dir) => {
        val ng = TextOps.decontaminate(docShingles(s, dir), "doc_id",
            col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("contaminated").as("ngram_hit"))
        val e = Tables.embeddings(s, dir)
        val emb = Similarity.evalContamination(
            e.filter(col("vec_id") % 50 =!= 0),
            e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 0.4)
          .select(col("vec_id").as("doc_id"),
            col("contaminated").as("embedding_hit"))
        ng.join(emb, Seq("doc_id"))
          .select(col("doc_id"), col("ngram_hit"), col("embedding_hit"),
            when(col("ngram_hit") && col("embedding_hit"), "both")
              .when(col("ngram_hit"), "ngram")
              .when(col("embedding_hit"), "embedding")
              .otherwise("clean").as("verdict"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $shingleCte,
              |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
              |ngc AS (SELECT t.doc_id, count(ev.s) > 0 AS ngram_hit
              |        FROM (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0) t
              |        LEFT JOIN ev ON t.s = ev.s GROUP BY t.doc_id),
              |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |evv AS (SELECT * FROM emb WHERE vec_id % 50 = 0),
              |trv AS (SELECT * FROM emb WHERE vec_id % 50 <> 0),
              |mc AS (SELECT t.vec_id AS doc_id,
              |         max(round(list_cosine_similarity(t.v, e2.v), 5)) >= 0.4 AS embedding_hit
              |       FROM trv t, evv e2 GROUP BY t.vec_id)
              |SELECT n.doc_id, n.ngram_hit, m.embedding_hit,
              |       CASE WHEN n.ngram_hit AND m.embedding_hit THEN 'both'
              |            WHEN n.ngram_hit THEN 'ngram'
              |            WHEN m.embedding_hit THEN 'embedding'
              |            ELSE 'clean' END AS verdict
              |FROM ngc n JOIN mc m USING (doc_id) ORDER BY n.doc_id""".stripMargin)),

    // Corpus-level boilerplate-line removal (CCNet/RefinedWeb line
    // dedup ACROSS docs): the synthetic corpus has no shared lines, so
    // template chrome is planted — a nav line on every doc (df=N), a
    // cookie banner on even docs (df=N/2), a footer on every doc; the
    // doc's own text lines stay unique and survive. minDf=100 keeps
    // all three planted lines above threshold at sf≥0.01 and all
    // natural lines below it.
    Q("text_boilerplate_lines",
      (s, dir) => {
        val planted = Tables.documents(s, dir).select(col("doc_id"),
          concat_ws("\n",
            lit("nav home about contact"), col("text"),
            when(col("doc_id") % 2 === 0, lit("cookie consent banner accept all")),
            lit("(c) example corp all rights reserved")).as("text"))
        TextOps.removeBoilerplateLines(planted, "doc_id", "text", minDf = 100)
          .select(col("doc_id"), col("n_lines"), col("n_boiler"), col("clean_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |  concat_ws(chr(10), 'nav home about contact', text,
             |    CASE WHEN doc_id % 2 = 0 THEN 'cookie consent banner accept all' END,
             |    '(c) example corp all rights reserved') AS text FROM documents),
             |l AS (SELECT doc_id, i AS pos, ls[CAST(i AS INT) + 1] AS line
             |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
             |            FROM planted),
             |           LATERAL (SELECT unnest(range(len(ls))) AS i) u),
             |dfq AS (SELECT line, count(DISTINCT doc_id) AS dfc FROM l
             |        WHERE length(trim(line)) >= 5 GROUP BY line),
             |bp AS (SELECT line FROM dfq WHERE dfc >= 100),
             |j AS (SELECT l.doc_id, l.pos, l.line,
             |        (bp.line IS NOT NULL) AS isbp
             |      FROM l LEFT JOIN bp USING (line))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(count(*) FILTER (WHERE isbp) AS BIGINT) AS n_boiler,
             |       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
             |         FILTER (WHERE NOT isbp), '')) AS clean_fp
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Intra-document line dedup (Lee et al. 2022, within-doc half):
    // repeated lines dropped keeping first occurrence. The synthetic
    // corpus is single-line, so each doc plants its own first-50-chars
    // line twice plus a unique tail — the oracle checks counts AND the
    // md5 of the reconstructed cleaned text.
    Q("text_dedup_lines",
      (s, dir) => {
        val planted = Tables.documents(s, dir).select(col("doc_id"),
          concat_ws("\n", col("text"),
            substring(col("text"), 1, 50), substring(col("text"), 1, 50),
            concat(lit("tail "), col("doc_id").cast("string"))).as("text"))
        TextOps.dedupLines(planted, "doc_id", "text")
          .select(col("doc_id"), col("n_lines"), col("n_kept"),
            col("n_dropped"), col("clean_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (SELECT doc_id,
             |  text || chr(10) || substr(text, 1, 50) || chr(10) ||
             |  substr(text, 1, 50) || chr(10) || 'tail ' ||
             |  CAST(doc_id AS VARCHAR) AS text FROM documents),
             |l AS (SELECT doc_id, i AS pos, ls[CAST(i AS INT) + 1] AS line
             |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
             |            FROM planted),
             |           LATERAL (SELECT unnest(range(len(ls))) AS i) u),
             |f AS (SELECT doc_id, line, min(pos) AS first_pos, count(*) AS c
             |      FROM l GROUP BY 1, 2),
             |a AS (SELECT doc_id, sum(c) AS n_lines, count(*) AS n_kept,
             |        md5(string_agg(line, chr(10) ORDER BY first_pos)) AS clean_fp
             |      FROM f GROUP BY doc_id)
             |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
             |       CAST(n_kept AS BIGINT) AS n_kept,
             |       CAST(n_lines - n_kept AS BIGINT) AS n_dropped, clean_fp
             |FROM a ORDER BY doc_id""".stripMargin)),

    // Term-blocklist safety gate: stand-in dictionary of common tokens
    // (the corpus is synthetic-clean; mechanics and evidence columns
    // are what's under test — real deployments swap the term list)
    Q("text_blocklist",
      (s, dir) => TextOps.blocklist(Tables.documents(s, dir), "doc_id", "text",
          Seq("the", "data", "système", "zzz_never_present"))
        .orderBy("doc_id"),
      Some("""WITH dict(w) AS (VALUES ('the'), ('data'), ('système'),
             |  ('zzz_never_present')),
             |tk AS (SELECT doc_id,
             |         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |       FROM documents),
             |h AS (SELECT doc_id, count(*) AS n_hits, min(w) AS first_term
             |      FROM tk JOIN dict USING (w) GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
             |       h.first_term, (h.n_hits IS NOT NULL) AS blocked
             |FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Corpus bigram LM scoring: per-doc mean bigram log-prob +
    // perplexity under add-one smoothing (the perplexity-filter
    // quality step; sorted-fold determinism like text_entropy)
    Q("text_lm_score",
      (s, dir) => TextOps.lmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id,
             |        string_split_regex(lower(trim(text)), '\s+') AS w
             |      FROM documents),
             |bg AS (SELECT doc_id, i AS pos,
             |         w[CAST(i AS INT) + 1] AS a, w[CAST(i AS INT) + 2] AS b
             |       FROM tk, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) u
             |       WHERE len(w) >= 2),
             |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
             |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a),
             |vv AS (SELECT count(DISTINCT x) AS V
             |       FROM (SELECT unnest(w) AS x FROM tk)),
             |sc AS (SELECT bg.doc_id, bg.pos,
             |         ln((c_ab + 1.0) / (c_a + V)) AS lp
             |       FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN vv),
             |ag AS (SELECT doc_id, count(*) AS n_bigrams,
             |         list(lp ORDER BY pos) AS ls FROM sc GROUP BY doc_id),
             |s AS (SELECT doc_id, n_bigrams,
             |        list_reduce(ls, (acc, x) -> acc + x) AS sm FROM ag)
             |SELECT doc_id, n_bigrams, round(sm / n_bigrams, 6) AS avg_logp,
             |       round(exp(-(sm / n_bigrams)), 4) AS ppl
             |FROM s ORDER BY doc_id""".stripMargin)),

    // CCNet head/middle/tail perplexity buckets (Wenzek et al. LREC
    // 2020): per-language perplexity terciles over the Memo'd LM pass
    // — head = lowest-ppl third (kept outright), tail = highest
    // (dropped/down-weighted). Rank-exact: 4dp-ppl ties break to the
    // smaller id, tercile cuts are integer comparisons.
    Q("text_ppl_buckets",
      (s, dir) => TextOps.pplBuckets(Tables.documents(s, dir),
          "doc_id", "text", "lang")
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id,
             |        string_split_regex(lower(trim(text)), '\s+') AS w
             |      FROM documents),
             |bg AS (SELECT doc_id, i AS pos,
             |         w[CAST(i AS INT) + 1] AS a, w[CAST(i AS INT) + 2] AS b
             |       FROM tk, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) u
             |       WHERE len(w) >= 2),
             |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
             |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a),
             |vv AS (SELECT count(DISTINCT x) AS V
             |       FROM (SELECT unnest(w) AS x FROM tk)),
             |sc AS (SELECT bg.doc_id, bg.pos,
             |         ln((c_ab + 1.0) / (c_a + V)) AS lp
             |       FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN vv),
             |ag AS (SELECT doc_id, count(*) AS n_bigrams,
             |         list(lp ORDER BY pos) AS ls FROM sc GROUP BY doc_id),
             |s AS (SELECT doc_id, n_bigrams,
             |        list_reduce(ls, (acc, x) -> acc + x) AS sm FROM ag),
             |ppl AS (SELECT doc_id, round(exp(-(sm / n_bigrams)), 4) AS ppl FROM s),
             |r AS (SELECT p.doc_id, d.lang, p.ppl,
             |        row_number() OVER (PARTITION BY d.lang ORDER BY p.ppl, p.doc_id) AS rk,
             |        ntile(3) OVER (PARTITION BY d.lang ORDER BY p.ppl, p.doc_id) AS t
             |      FROM ppl p JOIN documents d USING (doc_id))
             |SELECT doc_id, lang, ppl, CAST(rk AS BIGINT) AS rk,
             |  CASE WHEN t = 1 THEN 'head'
             |       WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Unicode-script profile: per-script character ratios + dominant
    // script from explicit codepoint ranges — the segmentation-free
    // complement to stopword language-ID (classifies unsegmented
    // zh/ja/ko text, the documented langid limitation)
    Q("text_script_profile",
      (s, dir) => TextOps.scriptProfile(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT doc_id, length(text) AS chars,
             |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS c_latin,
             |  length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS c_han,
             |  length(text) - length(regexp_replace(text, '[\x{3040}-\x{309f}\x{30a0}-\x{30ff}]', '', 'g')) AS c_kana,
             |  length(text) - length(regexp_replace(text, '[\x{ac00}-\x{d7af}]', '', 'g')) AS c_hangul,
             |  length(text) - length(regexp_replace(text, '[\x{0400}-\x{04ff}]', '', 'g')) AS c_cyrillic,
             |  length(text) - length(regexp_replace(text, '[\x{0600}-\x{06ff}]', '', 'g')) AS c_arabic,
             |  length(text) - length(regexp_replace(text, '[\x{0900}-\x{097f}]', '', 'g')) AS c_devanagari
             |  FROM documents)
             |SELECT doc_id, CAST(chars AS BIGINT) AS chars,
             |  round(CAST(c_latin AS DOUBLE) / chars, 6) AS latin_ratio,
             |  round(CAST(c_han AS DOUBLE) / chars, 6) AS han_ratio,
             |  round(CAST(c_kana AS DOUBLE) / chars, 6) AS kana_ratio,
             |  round(CAST(c_hangul AS DOUBLE) / chars, 6) AS hangul_ratio,
             |  round(CAST(c_cyrillic AS DOUBLE) / chars, 6) AS cyrillic_ratio,
             |  round(CAST(c_arabic AS DOUBLE) / chars, 6) AS arabic_ratio,
             |  round(CAST(c_devanagari AS DOUBLE) / chars, 6) AS devanagari_ratio,
             |  CASE WHEN greatest(c_latin, c_han, c_kana, c_hangul,
             |                     c_cyrillic, c_arabic, c_devanagari) = 0 THEN 'none'
             |       WHEN c_latin = greatest(c_latin, c_han, c_kana, c_hangul,
             |                     c_cyrillic, c_arabic, c_devanagari) THEN 'latin'
             |       WHEN c_han = greatest(c_han, c_kana, c_hangul,
             |                     c_cyrillic, c_arabic, c_devanagari) THEN 'han'
             |       WHEN c_kana = greatest(c_kana, c_hangul,
             |                     c_cyrillic, c_arabic, c_devanagari) THEN 'kana'
             |       WHEN c_hangul = greatest(c_hangul,
             |                     c_cyrillic, c_arabic, c_devanagari) THEN 'hangul'
             |       WHEN c_cyrillic = greatest(c_cyrillic, c_arabic, c_devanagari) THEN 'cyrillic'
             |       WHEN c_arabic = greatest(c_arabic, c_devanagari) THEN 'arabic'
             |       ELSE 'devanagari' END AS dominant_script
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Unigram entropy + perplexity (lexical diversity): sequential
    // sorted-order fold, so the FP arithmetic is engine- and
    // parallelism-identical
    Q("text_entropy",
      (s, dir) => TextOps.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id,
             |        unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |      FROM documents),
             |tc AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
             |       FROM tk GROUP BY 1, 2),
             |ag AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n,
             |         count(*) AS n_distinct,
             |         list({'w': w, 'c': c} ORDER BY w) AS wc
             |       FROM tc GROUP BY doc_id),
             |e AS (SELECT doc_id, n, n_distinct,
             |        -list_reduce(list_transform(wc, r -> (r.c / n) * ln(r.c / n)),
             |                     (a, x) -> a + x) AS h
             |      FROM ag)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
             |       CAST(n_distinct AS BIGINT) AS n_distinct,
             |       round(h, 6) AS entropy, round(exp(h), 4) AS perplexity
             |FROM e ORDER BY doc_id""".stripMargin)),

    // Extended Gopher quality rules: word-length stats, alpha/numeric
    // word fractions, symbol-to-word ratio — per-row HOFs, no shuffle
    Q("text_quality_gopher",
      (s, dir) => TextOps.qualityGopher(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(w) AS BIGINT) AS n_words,
             |  round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 4) AS mean_word_len,
             |  CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT) AS max_word_len,
             |  round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / len(w), 6) AS alpha_word_ratio,
             |  round(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$'))) / len(w), 6) AS num_word_ratio,
             |  round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) +
             |         (length(text) - length(replace(text, '...', ''))) / 3) / len(w), 6) AS symbol_word_ratio
             |FROM (SELECT doc_id, text,
             |        string_split_regex(lower(trim(text)), '\s+') AS w
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Bloom-pre-filtered exact incremental dedup: batch (doc_id >= 400)
    // vs corpus (< 400) by canonical fingerprint. The Bloom filter only
    // prunes the verify join (no false negatives), so the result is
    // EXACTLY the anti-join answer — which is what the oracle computes.
    Q("dedup_bloom_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.bloomIncrementalExact(docs.filter(col("doc_id") < 400),
            docs.filter(col("doc_id") >= 400), "doc_id", "text",
            expectedItems = 100000L, fpp = 0.01)
          .orderBy("doc_id")
      },
      Some("""WITH cfp AS (SELECT DISTINCT
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents WHERE doc_id < 400),
             |bfp AS (SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents WHERE doc_id >= 400)
             |SELECT b.doc_id, (c.fp IS NOT NULL) AS is_dup,
             |       (c.fp IS NULL) AS keep
             |FROM bfp b LEFT JOIN cfp c ON b.fp = c.fp
             |ORDER BY b.doc_id""".stripMargin)),

    // PageRank domain authority (round 11, [EXT] — Page et al. 1999):
    // the inlink-authority curation weight, run as the Pregel shape
    // (per-iteration: rank-frame join onto the edge list + map-side-
    // combined sum on dst; the EDGE LIST never re-shuffles across
    // iterations). The synthetic corpus has no link graph, so the
    // query PLANTS a deterministic one from doc_id arithmetic (the
    // text_redact planting convention): every doc links to its
    // "parent" doc_id div 2 (authority accumulates toward low ids)
    // and to a pseudo-random peer (doc_id·31 + 7) mod N. Ranks are
    // integer NANO-UNITS end-to-end (Graph.pageRank's contract) and
    // the oracle replays the identical 10-iteration integer ladder as
    // unrolled CTEs — every output column BIGINT, hash-proof.
    Q("graph_domain_pagerank",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nodes = docs.select(col("doc_id").as("node"))
        val mx = docs.agg(max(col("doc_id")).as("__mx"))
        val edges = nodes.crossJoin(broadcast(mx))
          .select(col("node").as("src"), explode(array(
            expr("node div 2"),
            (col("node") * 31L + 7L) % (col("__mx") + 1L))).as("dst"))
          .select(col("src"), col("dst").cast("long").as("dst"))
        graft.ops.Graph.pageRank(nodes, edges, iters = 10)
          .orderBy(col("rank_nano").desc, col("node").asc)
          .limit(20)
      },
      Some(graft.ops.Graph.pageRankOracleSql(
          "SELECT doc_id AS node FROM documents",
          """SELECT doc_id AS src, dst FROM (
            |    SELECT doc_id, mx, unnest([doc_id // 2,
            |      (doc_id * 31 + 7) % (mx + 1)]) AS dst
            |    FROM documents, (SELECT max(doc_id) AS mx FROM documents))""".stripMargin,
          iters = 10) +
        """,
          |nin AS (SELECT dst AS node, count(*) AS n_in FROM e GROUP BY dst)
          |SELECT p.node, p.rq AS rank_nano, coalesce(nin.n_in, 0) AS n_in
          |FROM pr10 p LEFT JOIN nin ON nin.node = p.node
          |ORDER BY rank_nano DESC, p.node LIMIT 20""".stripMargin)),

    // Site-cluster connected components (round 11, [EXT]): the shared
    // CC engine (ml/Components — union-find under the 5M-edge gate,
    // min-label propagation above it, identical canonical min-id
    // labels either way) on an explicit LINK GRAPH — the "which pages
    // belong to one site/mirror cluster" grouping that host-level
    // dedup and per-site crawl budgets key on. Planted graph (the
    // corpus has none): members link to their 16-block leader, and
    // every 256-aligned leader bridges to the previous block — blocks
    // of 16 with deterministic 32-member merges at the bridges. The
    // oracle replays the closure as the DBSCAN-style recursive CTE
    // (fine at oracle scale; the engine side is the one that scales).
    // All-BIGINT output.
    Q("graph_site_components",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"))
        val e1 = d.filter(col("doc_id") % 16 =!= 0)
          .select(col("doc_id").as("id"), expr("(doc_id div 16) * 16").as("id2"))
        val e2 = d.filter(col("doc_id") % 256 === 0 && col("doc_id") >= 16)
          .select(col("doc_id").as("id"), (col("doc_id") - 16).as("id2"))
        graft.ml.Components.minLabel(e1.unionByName(e2))
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
          .orderBy("label")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id FROM documents),
             |e0 AS (SELECT doc_id AS id, (doc_id // 16) * 16 AS id2
             |       FROM d WHERE doc_id % 16 <> 0
             |       UNION ALL
             |       SELECT doc_id, doc_id - 16
             |       FROM d WHERE doc_id % 256 = 0 AND doc_id >= 16),
             |e AS (SELECT id, id2 FROM e0 UNION SELECT id2, id FROM e0),
             |reach(id, lbl) AS (
             |  SELECT id, id2 FROM e
             |  UNION
             |  SELECT r.id, e.id2 FROM reach r JOIN e ON e.id = r.lbl),
             |lab AS (SELECT id, least(id, min(lbl)) AS label
             |        FROM reach GROUP BY id)
             |SELECT label, count(*) AS n_members,
             |       CAST(max(id) AS BIGINT) AS max_id
             |FROM lab GROUP BY label ORDER BY label""".stripMargin))
  )
}
