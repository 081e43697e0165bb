package graft

import graft.ext.{Dedup, Similarity, TextOps}

/** [EXT] operator semantics on hand-built fixtures. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different words appear here now today friends"),
    (5L, "der hund ist nicht ein fisch und das ist gut")  // German stopwords
  ).toDF("doc_id", "text")

  test("exactGroups collapses identical texts to min doc_id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter($"dup_count" > 1).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("keep_id") == 1L && g.head.getAs[Long]("dup_count") == 2L)
  }

  test("jaccardPairs: identical docs score 1.0, near-dups high, distinct absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containmentPairs: a doc wholly inside a bigger one scores 1.0 where Jaccard fails") {
    // doc 7 is a strict prefix of doc 6: every 3-shingle of 7 appears
    // in 6, so containment = 1.0 while Jaccard = 5/16 misses a 0.5 bar
    val d = Seq(
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma"),
      (7L, "alpha beta gamma delta epsilon zeta eta"),
      (8L, "unrelated content entirely separate tokens only")
    ).toDF("doc_id", "text")
    val sh = graft.ext.TextOps.shingles(d, "doc_id", "text", 3)
    val cont = Dedup.containmentPairsFrom(sh, "doc_id", 0.8, Int.MaxValue)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(cont((6L, 7L)) == 1.0)
    assert(!cont.keys.exists { case (a, b) => a == 8L || b == 8L })
    val jac = Dedup.jaccardPairsFrom(sh, "doc_id", 0.5, Int.MaxValue)
      .as[(Long, Long, Double)].collect()
    assert(!jac.exists(p => p._1 == 6L && p._2 == 7L)) // Jaccard blind spot
  }

  test("incrementalDedup: batch docs drop against corpus and earlier batch docs only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some corpus document with its own distinct content here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // dup of corpus 1
      (11L, "fresh new unique content never seen before anywhere"),
      (12L, "fresh new unique content never seen before anywhere") // dup of 11
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text", 3, 8, 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (10L, Some(1L), false),   // dropped against the corpus
      (11L, None, true),        // first of its content: kept
      (12L, Some(11L), false))) // dropped against the EARLIER batch doc
  }

  test("sourceCap: salted two-phase top-n equals the direct window exactly") {
    import org.apache.spark.sql.expressions.Window
    // one hot stratum (40 rows), one small (3 rows), quality ties
    val rows = (0 until 40).map(i => (i.toLong, "hot", (i % 7).toLong)) ++
      Seq((100L, "cold", 5L), (101L, "cold", 5L), (102L, "cold", 9L))
    val df = rows.toDF("doc_id", "source", "q")
    val got = graft.ext.TextOps.sourceCap(df, "doc_id", "source", "q", 4, salts = 4)
      .select("doc_id", "source", "rank")
      .as[(Long, String, Long)].collect().toSet
    val w = Window.partitionBy($"source").orderBy($"q".desc, $"doc_id".asc)
    val want = df.withColumn("rank", org.apache.spark.sql.functions
        .row_number().over(w).cast("long"))
      .filter($"rank" <= 4).select("doc_id", "source", "rank")
      .as[(Long, String, Long)].collect().toSet
    assert(got == want)
    assert(got.count(_._2 == "hot") == 4 && got.count(_._2 == "cold") == 3)
  }

  test("heavyHitters: top-k by count with deterministic tie order and exact shares") {
    val ev = Seq("a", "a", "a", "b", "b", "c", "d").map(Tuple1(_)).toDF("k")
    val hh = graft.ops.SkewOps.heavyHitters(Seq(("t.k", ev, "k")), 3)
      .as[(String, String, Long, Double, Long)].collect().sortBy(_._5)
    assert(hh.map(r => (r._2, r._3, r._5)).toSeq ==
      Seq(("a", 3L, 1L), ("b", 2L, 2L), ("c", 1L, 3L))) // "c" < "d" tie-break
    assert(hh.head._4 == math.rint(3.0 / 7 * 1e6) / 1e6)
  }

  test("minhashLshPairs finds the planted dups (candidates → exact verify)") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 8, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash32: identical texts get identical fingerprints; hamming 0") {
    val fp = Dedup.simhash32(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) >= 0 && fp(1L) < (1L << 32))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 1)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhash64: identical fingerprints for dups; banded pairs = brute force") {
    val fp = Dedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.toSet.size > 1) // distinct docs get distinct hashes
    val banded = Dedup.simhash64Pairs(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // pigeonhole guarantee: the banded equi-join finds EXACTLY the
    // brute-force Hamming ≤ 3 pair set
    val ids = fp.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(banded == brute)
    assert(banded((1L, 2L)) == 0L)
  }

  test("dedupGroups closes pair chains transitively; singletons keep themselves") {
    // chain 1-2, 2-3 (no direct 1-3 edge) must collapse to one group
    // keyed by min id; 4 and 5 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val g = Dedup.dedupGroups(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(g(1L) == (1L, true))
    assert(g(2L) == (1L, false))
    assert(g(3L) == (1L, false)) // transitive: reached only through 2
    assert(g(4L) == (4L, true) && g(5L) == (5L, true))
    assert(g.size == 5)
  }

  test("Components.minLabel: driver union-find == distributed label propagation") {
    // two components + an isolated self-loop, edges in mixed directions
    val edges = Seq((7L, 3L), (3L, 9L), (12L, 11L), (20L, 20L)).toDF("id_a", "id_b")
    val driver = graft.ml.Components.minLabel(edges)
      .as[(Long, Long)].collect().toMap
    val dist = graft.ml.Components.minLabel(edges, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist)
    assert(driver == Map(7L -> 3L, 3L -> 3L, 9L -> 3L, 12L -> 11L, 11L -> 11L, 20L -> 20L))
  }

  /** The frame optimizes to local rows (a driver path's result). */
  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** minhashLshPairsFrom's driver path and its forced plan: equal
    * schema, equal rows; returns the rows. */
  private def minhashParity(sh: org.apache.spark.sql.DataFrame,
      threshold: Double = 0.5): Seq[org.apache.spark.sql.Row] = {
    val driver = Dedup.minhashLshPairsFrom(sh, "doc_id", 8, threshold)
    val plan = Dedup.minhashLshPairsFrom(sh, "doc_id", 8, threshold, 0L)
    assert(isLocal(driver), "the driver path did not run")
    assert(!isLocal(plan))
    assert(driver.schema == plan.schema)
    val got = driver.orderBy("id_a", "id_b").collect().toSeq
    assert(got == plan.orderBy("id_a", "id_b").collect().toSeq)
    got
  }

  /** Seeded corpus with planted near-duplicates: exact copies (every
    * band shared), one-word edits, 5-token pairs whose 3-shingle
    * Jaccard is exactly 2/4 = 0.5, and documents of fewer than 3
    * tokens (no shingles). */
  private lazy val planted = {
    val rnd = new scala.util.Random(20260518L)
    def words(k: Int) = Seq.fill(k)(s"w${rnd.nextInt(300)}")
    val base = (0 until 40).map(i => i.toLong -> words(8 + rnd.nextInt(12)))
    val copies = (0 until 5).map(i => (100L + i) -> base(i)._2)
    val edits = (5 until 15).map { i =>
      val ws = base(i)._2
      (200L + i) -> ws.updated(rnd.nextInt(ws.length), s"edit$i")
    }
    val halves = (0 until 12).flatMap { k =>
      val ws = (0 until 5).map(j => s"h${k}t$j")
      Seq((300L + 2 * k) -> ws, (301L + 2 * k) -> ws.updated(4, s"h${k}x"))
    }
    val short = Seq(400L -> Seq("lone"), 401L -> Seq("two", "words"), 402L -> Seq(""))
    (base ++ copies ++ edits ++ halves ++ short)
      .map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
  }

  test("minhashLshPairsFrom: driver path == forced plan on the fixture, sf0.001 and a planted corpus") {
    assert(minhashParity(TextOps.shingles(docs, "doc_id", "text", 3))
      .exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    val sf001 = Tables.documents(spark, sf).select("doc_id", "text")
    minhashParity(TextOps.shingles(sf001, "doc_id", "text", 3))
    val sh = TextOps.shingles(planted, "doc_id", "text", 3).cache()
    try {
      val rows = minhashParity(sh)
      // the planted cases are really exercised
      assert(rows.exists(_.getDouble(2) == 0.5), "no pair at exactly Jaccard 0.5")
      assert(rows.exists(r => r.getLong(0) == 0L && r.getLong(1) == 100L))
      val bands = Dedup.minhashBandedFlat(sh, "doc_id", 8)
        .as[(Long, Int, String)].collect().toSeq.groupBy(r => (r._2, r._3)).values.toSeq
        .flatMap(g => for (a <- g; b <- g if a._1 < b._1) yield (a._1, b._1))
        .groupBy(identity).map { case (p, hits) => p -> hits.size }
      assert(rows.exists(r => bands.getOrElse((r.getLong(0), r.getLong(1)), 0) >= 2))
      assert(sh.filter($"doc_id" >= 400L).count() == 0) // < 3 tokens: no shingles
      minhashParity(sh, threshold = 0.3)
    } finally sh.unpersist()
  }

  test("minhashLshPairsFrom: duplicated rows and int ids match the plan; null ids or shingles take it") {
    val sh = TextOps.shingles(planted, "doc_id", "text", 3)
    // multiplicities weight the intersection: a doubled doc can pass 1.0
    val doubled = sh.union(sh.filter($"doc_id" % 3 === 0 || $"doc_id" === 1L))
    minhashParity(doubled)
    minhashParity(TextOps.shingles(docs, "doc_id", "text", 3)
      .union(TextOps.shingles(docs.filter($"doc_id" === 1L), "doc_id", "text", 3)))
    val asInt = sh.select($"doc_id".cast("int").as("doc_id"), $"s")
    val intRows = minhashParity(asInt)
    assert(intRows.nonEmpty && intRows.head.get(0).isInstanceOf[Int])
    import org.apache.spark.sql.functions.lit
    for (extra <- Seq(
        Seq((999L, "a b c")).toDF("doc_id", "s").select(lit(null).cast("long").as("doc_id"), $"s"),
        Seq((999L, "a b c")).toDF("doc_id", "s").select($"doc_id", lit(null).cast("string").as("s")))) {
      val withNull = sh.union(extra)
      val got = Dedup.minhashLshPairsFrom(withNull, "doc_id", 8, 0.5)
      assert(!isLocal(got), "a null id or shingle must take the plan")
      assert(got.orderBy("id_a", "id_b").collect().toSeq ==
        Dedup.minhashLshPairsFrom(withNull, "doc_id", 8, 0.5, 0L)
          .orderBy("id_a", "id_b").collect().toSeq)
    }
  }

  test("Components.minLabel: an in-memory edge list below the gate is one job and a local frame") {
    // one partition: a limited collect scans partitions incrementally
    // (one job per scale-up step), so one partition is one job
    val edges = Seq((7L, 3L), (3L, 9L), (12L, 11L), (20L, 20L)).toDF("id_a", "id_b")
      .coalesce(1).cache()
    try {
      edges.count()
      val (jobs, labels) = jobsOf {
        val l = graft.ml.Components.minLabel(edges)
        (l, l.as[(Long, Long)].collect().toMap)
      }
      assert(jobs == 1)
      assert(isLocal(labels._1))
      assert(labels._2 == Map(7L -> 3L, 3L -> 3L, 9L -> 3L, 12L -> 11L, 11L -> 11L, 20L -> 20L))
    } finally edges.unpersist()
  }

  test("Components.minLabel: the gate keeps effEdges == maxDriverEdges on the driver, one more goes distributed") {
    // a chain 0-1-…-n, plus its reversed copy when symmetric
    def chain(n: Int, symmetric: Boolean) = {
      val one = (0 until n).map(i => (i.toLong, i + 1L))
      (if (symmetric) one ++ one.map(_.swap) else one).toDF("id", "id2")
    }
    def loop(id: Long) = Seq((id, id)).toDF("id", "id2") // its own reverse
    for (symmetric <- Seq(false, true); maxEdges <- Seq(12L, 13L)) {
      // the largest list whose effective count (2n, or n symmetric) fits
      val rows = if (symmetric) maxEdges.toInt else (maxEdges / 2).toInt
      val (fits, over) =
        if (!symmetric) (chain(rows, false), chain(rows + 1, false))
        else {
          val f = if (rows % 2 == 0) chain(rows / 2, true) else chain(rows / 2, true).union(loop(50L))
          (f, f.union(loop(100L)))
        }
      assert(fits.count() == rows && over.count() == rows + 1)
      val atGate = graft.ml.Components.minLabel(fits, maxEdges, symmetric)
      val past = graft.ml.Components.minLabel(over, maxEdges, symmetric)
      assert(isLocal(atGate), s"symmetric=$symmetric max=$maxEdges: $rows edges left the driver")
      assert(!isLocal(past), s"symmetric=$symmetric max=$maxEdges: ${rows + 1} edges stayed on the driver")
      def labels(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toMap
      assert(labels(atGate) == labels(graft.ml.Components.minLabel(fits, 0L, symmetric)))
      assert(labels(past) == labels(graft.ml.Components.minLabel(over, 1000L, symmetric)))
    }
    // 0 still leaves an empty edge list on the driver
    assert(isLocal(graft.ml.Components.minLabel(chain(0, false), 0L)))
  }

  test("jaccardPairs df cap prunes candidate generation, not scoring") {
    // default cap: no shingle in the fixture is hot, identical result
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped && capped.nonEmpty)
    // maxDf=1 prunes every shared shingle (df ≥ 2 by definition of
    // "shared") → candidate generation finds nothing
    val all1 = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0, maxDf = 1).count()
    assert(all1 == 0)
  }

  test("cosineLshPairs: planted near-identical pair found; output ⊆ brute pairs") {
    // deterministic vectors; 0 and 1 are near-identical (cosine ≈ 1),
    // the rest quasi-random — the regime sign-LSH is built for
    val vecs = (0L until 20L).map { k =>
      val base = if (k <= 1) 0L else k
      val v = Array.tabulate(16)(i => math.sin(base * 7.3 + i * 1.7))
      if (k == 1L) v(0) += 0.01
      (k, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val lsh = Dedup.cosineLshPairs(emb, "vec_id", "embedding", 0.9, nBits = 30, rowsPerBand = 5)
      .as[(Long, Long, Double)].collect()
    assert(lsh.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.99))
    val brute = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // exact verification ⇒ 100% precision: LSH can only miss, never add
    assert(lsh.map(p => (p._1, p._2)).toSet.subsetOf(brute))
  }

  test("tokenCounts n_bpe: greedy subword segmentation over the fixed merge table") {
    // hand-derived segmentations under leftmost-first, longest-listed-
    // first alternation: "the|the|or|y|of|th|ing|s" = 8,
    // "int|er|n|at|ion|al|i|z|at|ion" = 10, digits fall back per-char
    val d = Seq(
      (1L, "the theory of things"),
      (2L, "internationalization"),
      (3L, "a1 b2")).toDF("doc_id", "text")
    val out = TextOps.tokenCounts(d, "doc_id", "text")
      .select("doc_id", "n_bpe").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 8L, 2L -> 10L, 3L -> 4L), s"got $out")
  }

  test("duplicatedSpans: planted shared paragraph located exactly; unrelated docs silent") {
    // docs 1 and 2 share one exact 69-char paragraph at different
    // offsets inside otherwise-different text; doc 3 is unrelated.
    // The chars ADJACENT to the paragraph differ between the docs
    // (';' vs '!'), so no gram crossing the boundary is shared and the
    // maximal island is exactly the paragraph — with matching flanks
    // (e.g. both docs spacing the paragraph identically) the operator
    // would correctly report the longer run including them.
    val para = "the quick brown fox jumps over the lazy dog near a riverbank at dawn"
    val d = Seq(
      (1L, s"intro text alpha;$para; and then some trailing words"),
      (2L, s"completely different opening here with words!$para! closing remark"),
      (3L, "nothing in common with the others at all whatsoever entirely distinct")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", minSpan = 30,
        maxDf = Int.MaxValue)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(spans.length == 1)
    val (a, b, nSpans, longest, start, dupChars) = spans.head
    assert((a, b) == (1L, 2L) && nSpans == 1L && dupChars == longest)
    assert(longest == para.length,
      s"expected span of ${para.length} chars, got $longest")
    // 1-based start in doc 1's canonical text: after "intro text alpha;"
    assert(start == "intro text alpha;".length + 1)
  }

  test("duplicatedSpans: shuffled fallback (gate=0) == broadcast path bit-for-bit") {
    // the size gate must change the JOIN STRATEGY only, never the
    // result: force the shuffled path with maxBroadcastBytes = 0 and
    // diff against the broadcast path on a fixture with several
    // overlapping docs (shared paragraph + a second repeated sentence)
    val para = "the quick brown fox jumps over the lazy dog near a riverbank at dawn"
    val sent = "rain fell steadily on the old tin roof all night"
    val d = Seq(
      (1L, s"intro alpha;$para; middle words here. $sent. tail one"),
      (2L, s"different opening!$para! but $sent? closing"),
      (3L, s"unrelated body of text $sent with its own framing around it"),
      (4L, "nothing shared with anything else in this corpus at all")
    ).toDF("doc_id", "text")
    def run(gate: Long) = Dedup.duplicatedSpans(d, "doc_id", "text",
        minSpan = 30, maxDf = Int.MaxValue, maxBroadcastBytes = gate)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(0L)
    assert(viaBroadcast.nonEmpty, "fixture must produce spans")
    assert(viaShuffle == viaBroadcast,
      s"fallback diverged:\n  broadcast=$viaBroadcast\n  shuffled=$viaShuffle")
  }

  test("trimSpans: longest duplicated span surgically removed from the LATER doc only") {
    val para = "the quick brown fox jumps over the lazy dog near a riverbank at dawn"
    val d = Seq(
      (1L, s"intro text alpha;$para; and then some trailing words"),
      (2L, s"completely different opening here with words!$para! closing remark"),
      (3L, "nothing in common with the others at all whatsoever entirely distinct")
    ).toDF("doc_id", "text")
    val out = Dedup.trimSpans(d, "doc_id", "text", maxDf = Int.MaxValue)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    // exactly one intervention: doc 2 (the later doc) loses the span;
    // docs 1 and 3 are untouched (no row)
    assert(out.length == 1, s"got ${out.toSeq}")
    val (docId, srcId, spanLen, origLen, trimmedLen, fp) = out.head
    assert(docId == 2L && srcId == 1L && spanLen == para.length)
    assert(trimmedLen == origLen - para.length)
    // the fp is the md5 of B's canonical text with the span excised
    val canon2 = s"completely different opening here with words!$para! closing remark"
      .toLowerCase.replaceAll("\\s+", " ").trim
    val expected = canon2.replace(para, "")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp == md, s"fp mismatch")
  }

  test("cosineLshPairs at production bands (8 rows): planted recall >= 0.9, precision exact") {
    // 30 base vectors + a perturbed near-duplicate of each (cosine
    // ≈ 0.999) — the ≥0.9-cosine regime the operator's scaladoc
    // prescribes r ≥ 8 for. Recall = found planted pairs / planted.
    val vecs = (0L until 30L).flatMap { k =>
      val v = Array.tabulate(16)(i => math.sin(k * 7.3 + i * 1.7))
      val dup = v.zipWithIndex.map { case (x, i) =>
        x * (1 + 0.03 * math.sin(k * 13.1 + i * 3.7)) }
      Seq((k, v), (k + 1000L, dup))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val found = Dedup.cosineLshPairs(emb, "vec_id", "embedding", 0.9,
        nBits = 48, rowsPerBand = 8)
      .as[(Long, Long, Double)].collect()
    val planted = (0L until 30L).map(k => (k, k + 1000L)).toSet
    val hit = found.map(p => (p._1, p._2)).toSet.intersect(planted)
    assert(hit.size >= 27, s"planted recall ${hit.size}/30 below 0.9")
    // exact-cosine verification ⇒ every emitted pair really is >= 0.9
    val brute = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(found.map(p => (p._1, p._2)).toSet.subsetOf(brute))
  }

  test("cosineLshPairs: empty input yields empty pairs; ragged dims fail loudly") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    assert(Dedup.cosineLshPairs(empty, "vec_id", "embedding", 0.5).count() == 0)
    val ragged = Seq((1L, Array(1.0, 2.0)), (2L, Array(1.0, 2.0, 3.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.cosineLshPairs(ragged, "vec_id", "embedding", 0.5) }
    assert(e.getMessage.contains("dims not uniform"))
  }

  test("silhouette samplesSquared: all-noise input returns an empty frame, not an error") {
    val pts = Seq((1L, 0.0, 0.0, -1), (2L, 1.0, 1.0, -1))
      .toDF("series_id", "x", "y", "cluster")
    assert(graft.ml.Silhouette.samplesSquared(pts).count() == 0)
  }

  test("langId votes en for English stopwords, de for German (deterministic ties)") {
    val out = TextOps.langId(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out(1L) == "en" && out(5L) == "de")
    assert(out(4L) == "und") // no stopword hits
  }

  test("langId covers non-Latin scripts: Cyrillic, Arabic, Greek, Devanagari") {
    val d = Seq(
      (1L, "это не то что он сказал но как всегда"),          // ru
      (2L, "هذا من أفضل ما كان في هذه المدينة على الإطلاق"),  // ar
      (3L, "αυτό είναι το καλύτερο για την πόλη και το μέλλον"), // el
      (4L, "यह शहर के लोगों का है और सबसे अच्छा है"),            // hi
      (5L, "ini adalah yang terbaik dan tidak akan berubah")  // id
    ).toDF("doc_id", "text")
    val out = TextOps.langId(d, "doc_id", "text")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out == Map(1L -> "ru", 2L -> "ar", 3L -> "el", 4L -> "hi", 5L -> "id"))
    // union-dictionary stopword ratio is language-agnostic: the Russian
    // doc scores well above zero without a single English stopword
    val q = TextOps.quality(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("stopword_ratio")).toMap
    assert(q(1L) > 0.3)
  }

  test("quality ratios are well-defined and bounded") {
    val q = TextOps.quality(docs, "doc_id", "text").collect()
    q.foreach { r =>
      assert(r.getAs[Long]("chars") > 0)
      assert(r.getAs[Double]("punct_ratio") >= 0 && r.getAs[Double]("punct_ratio") <= 1)
      assert(r.getAs[Double]("stopword_ratio") >= 0 && r.getAs[Double]("stopword_ratio") <= 1)
    }
  }

  test("redact counts and scrubs emails/URLs/phones/IPs; splitAssign is a stable 100-bucket hash") {
    val d = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or see https://x.io/p?q=1 thanks"),
      (2L, "no pii here at all"),
      (3L, "call +1 (555) 123-4567 or 555.000.1234 from host 192.168.0.7 now"),
      // conservative-by-design cases: bare 10 digits are NOT a phone;
      // a 5-part dotted run still exposes its leading-octets match
      (4L, "order 5551234567 shipped v1.2.3.4.5")).toDF("doc_id", "text")
    val out = TextOps.redact(d, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0)._2 == 1L && out(0)._3 == 1L && out(0)._4 == 0L && out(0)._5 == 0L)
    assert(out(1)._2 == 0L && out(1)._3 == 0L && out(1)._4 == 0L && out(1)._5 == 0L)
    assert(out(2)._4 == 2L && out(2)._5 == 1L, s"phones/ips: ${out(2)}")
    assert(out(3)._4 == 0L && out(3)._5 == 1L, s"conservative cases: ${out(3)}")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(out(0)._6 == md5hex("mail me at <EMAIL> or see <URL> thanks"),
      "redacted fingerprint mismatch")
    assert(out(2)._6 == md5hex("call <PHONE> or <PHONE> from host <IP> now"),
      "phone/ip redaction mismatch")

    val split = TextOps.splitAssign(docs, "doc_id").collect()
    split.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(b >= 0 && b < 100)
      val expect = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(r.getAs[String]("split") == expect)
    }
    // stable: recomputation yields identical assignments
    assert(TextOps.splitAssign(docs, "doc_id").collect().toSeq == split.toSeq)
  }

  test("tfidfTopK surfaces distinctive terms, suppresses corpus-wide ones") {
    val d = Seq(
      (1L, "apple banana apple apple shared"),
      (2L, "cherry cherry shared tomato"),
      (3L, "shared words only here")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopK(d, "doc_id", "text", 2)
      .as[(Long, Long, String, Double)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
    // 'shared' appears in every doc → idf = ln(1) = 0 → never ranked
    // above doc-distinctive terms
    assert(top(1L).head == "apple")
    assert(top(2L).head == "cherry")
    assert(!top(1L).contains("shared") && !top(2L).contains("shared"))
  }

  test("sampleStratified is deterministic, honors per-stratum rates, never shuffles") {
    val d = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val kept = TextOps.sampleStratified(d, "doc_id", "lang", Map("en" -> 10), 50)
      .as[(Long, String)].collect()
    // determinism: same result on recomputation
    val again = TextOps.sampleStratified(d, "doc_id", "lang", Map("en" -> 10), 50)
      .as[(Long, String)].collect()
    assert(kept.toSeq == again.toSeq)
    val (en, de) = (kept.count(_._2 == "en"), kept.count(_._2 == "de"))
    // ~10% of 200 en, ~50% of 200 de (md5 buckets: loose bounds)
    assert(en > 5 && en < 40, s"en kept $en of 200 at 10%")
    assert(de > 70 && de < 130, s"de kept $de of 200 at 50%")
    // pure filter: no Exchange in the plan
    val plan = TextOps.sampleStratified(d, "doc_id", "lang", Map("en" -> 10), 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "stratified sampling must not shuffle")
  }

  test("packBins: greedy cumulative assignment, overflow by at most one doc") {
    val d = Seq((1L, 100L, "a"), (2L, 100L, "a"), (3L, 100L, "a"),
      (4L, 100L, "a"), (5L, 250L, "a"), (6L, 10L, "b"))
      .toDF("doc_id", "n_tokens", "part")
    val out = TextOps.packBins(d, "doc_id", "n_tokens", "part", 250L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // part a cumsum-before: 0,100,200,300,400 → bins 0,0,0,1,1
    // (doc 3 overflows bin 0 to 300 tokens — greedy, no splitting)
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 0L))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val d2 = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(d2, "doc_id", "text").as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("chunk covers every character, honors overlap, drops empty docs") {
    val d = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunk(d, "doc_id", "text", 4, 2)
      .as[(Long, Long, String, Long)].collect().sortBy(c => (c._1, c._2))
    // doc 1 (10 chars, step 2): starts 0,2,4,6 — start 8 would add no
    // new character (all-overlap tail), so it is not emitted
    val c1 = out.filter(_._1 == 1L).map(_._3)
    assert(c1.sameElements(Seq("abcd", "cdef", "efgh", "ghij")))
    // consecutive chunks share exactly `overlap` characters
    c1.sliding(2).foreach { case Array(a, b) =>
      assert(a.drop(2) == b.take(a.length - 2)) case _ => }
    assert(out.filter(_._1 == 2L).map(_._3).sameElements(Seq("abc")))
    assert(!out.exists(_._1 == 3L)) // empty doc: no chunks
    // reassembling first `step` chars of each chunk + last tail = original
    assert(c1.init.map(_.take(2)).mkString + c1.last == "abcdefghij")
  }

  test("vocabTopK ranks by total count with deterministic token tie-break") {
    val d = Seq((1L, "b b a a c"), (2L, "a b z")).toDF("doc_id", "text")
    val v = TextOps.vocabTopK(d, "doc_id", "text", 3)
      .as[(String, Long, Long)].collect()
    assert(v.map(_._1).sameElements(Seq("a", "b", "c"))) // a=3,b=3 tie → asc; c,z tie at 1 → c
    assert(v(0)._2 == 3L && v(0)._3 == 2L) // 'a' appears 3x across 2 docs
    assert(v(2)._2 == 1L && v(2)._3 == 1L)
  }

  test("decontaminate flags exactly the train docs sharing a shingle with eval") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"),              // eval
      (1L, "zeta alpha beta gamma eta"),                   // shares "alpha beta gamma"
      (2L, "totally unrelated training words here only"),  // clean
      (3L, "delta epsilon zeta eta theta")                 // no 3-shingle shared
    ).toDF("doc_id", "text")
    val sh = TextOps.shingles(d, "doc_id", "text", 3)
    val out = TextOps.decontaminate(sh, "doc_id", col("doc_id") === 0)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(0L))                    // eval docs excluded
    assert(out(1L)._4 && out(1L)._3 == 1L)       // one contaminated shingle
    assert(!out(2L)._4 && out(2L)._3 == 0L)
    assert(!out(3L)._4)                          // word overlap != shingle overlap
  }

  test("dedupLines drops repeats keeping first occurrence, fp matches rebuilt text") {
    import org.apache.spark.sql.functions.md5
    val d = Seq(
      (1L, "keep me\ndup line\nmiddle\ndup line\nlast"),
      (2L, "only\nunique\nlines")
    ).toDF("doc_id", "text")
    val out = TextOps.dedupLines(d, "doc_id", "text")
      .select("doc_id", "n_lines", "n_kept", "n_dropped", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 5L && out(1L)._3 == 4L && out(1L)._4 == 1L)
    assert(out(2L)._2 == 3L && out(2L)._3 == 3L && out(2L)._4 == 0L)
    val expected = Seq("keep me\ndup line\nmiddle\nlast")
      .toDF("t").select(md5($"t".cast("binary"))).as[String].head()
    assert(out(1L)._5 == expected)
  }

  test("qualityGopher: word-length stats and symbol ratios on a fixture") {
    val d = Seq((1L, "aa bbbb 123 c#c ...")).toDF("doc_id", "text")
    // words: aa(2) bbbb(4) 123(3) c#c(3) ...(3) -> mean 3.0, max 4
    // alpha words: aa, bbbb, c#c = 3/5; numeric words: 123 = 1/5
    // symbols: one '#' + one '...' = 2/5
    val r = TextOps.qualityGopher(d, "doc_id", "text")
      .select("n_words", "mean_word_len", "max_word_len",
        "alpha_word_ratio", "num_word_ratio", "symbol_word_ratio")
      .as[(Long, Double, Long, Double, Double, Double)].head()
    assert(r == ((5L, 3.0, 4L, 0.6, 0.2, 0.4)))
  }

  test("scriptProfile classifies unsegmented CJK that stopword langid cannot") {
    val d = Seq(
      (1L, "hello world"),
      (2L, "这是一个没有空格的中文句子"),   // unsegmented Han, no spaces
      (3L, "これはテストです"),             // hiragana + katakana
      (4L, "привет мир"),
      (5L, "abc 中文")                      // latin 3 vs han 2 -> latin
    ).toDF("doc_id", "text")
    val out = TextOps.scriptProfile(d, "doc_id", "text")
      .select("doc_id", "dominant_script").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "latin", 2L -> "han", 3L -> "kana",
      4L -> "cyrillic", 5L -> "latin"))
    // han_ratio of the pure-Han doc is 1.0
    val hr = TextOps.scriptProfile(d, "doc_id", "text")
      .filter($"doc_id" === 2).select("han_ratio").as[Double].head()
    assert(hr == 1.0)
    // the documented langId limitation, demonstrated: the unsegmented
    // doc is ONE whitespace token, so stopword voting abstains ('und')
    // while the script profile classifies it
    val lang = TextOps.langId(d, "doc_id", "text")
      .filter($"doc_id" === 2).select("pred_lang").as[String].head()
    assert(lang == "und")
  }

  test("sampleMixture: rates steer shares, cap keeps everything, absent stratum drops") {
    // 80 'big', 16 'rare', 10 'mid', 4 'bad' docs; N = 110
    val d = ((0 until 80).map(i => (i.toLong, "big")) ++
      (80 until 96).map(i => (i.toLong, "rare")) ++
      (96 until 106).map(i => (i.toLong, "mid")) ++
      (106 until 110).map(i => (i.toLong, "bad"))).toDF("doc_id", "lang")
    val shares = Map("big" -> 0.2, "rare" -> 0.9, "mid" -> 0.3)
    val kept = TextOps.sampleMixture(d, "doc_id", "lang", shares)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // big: rate = 0.2*110/80 = 0.275 -> ~22 of 80 kept (md5 buckets, not exact)
    assert(byLang("big") > 10 && byLang("big") < 40, s"big kept ${byLang.get("big")}")
    // rare: rate = 0.9*110/16 = 6.2 -> capped at 1.0, ALL 16 kept
    assert(byLang("rare") == 16)
    // mid: rate = 0.3*110/10 = 3.3 -> ALSO capped, ALL 10 kept. This is
    // the amplification sentinel: a bug that drops the N/n_s factor
    // (rate = bare share) keeps only ~30% here and fails loudly.
    assert(byLang("mid") == 10, s"mid kept ${byLang.get("mid")} — N/n amplification lost?")
    // bad: no target -> dropped entirely
    assert(!byLang.contains("bad"))
    // deterministic: same selection on a second run
    val again = TextOps.sampleMixture(d, "doc_id", "lang", shares)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.map(_._1).sorted.sameElements(again))
  }

  test("sampleWeighted: exact-k weighted reservoir, independent reimplementation parity") {
    // 200 heavy (w=1000) + 200 light (w=10) docs
    val d = (0L until 400L).map(i => (i, if (i < 200) 1000L else 10L))
      .toDF("doc_id", "w")
    val got = TextOps.sampleWeighted(d, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().sorted
    assert(got.length == 50)
    // deterministic on recomputation
    val again = TextOps.sampleWeighted(d, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().sorted
    assert(got.sameElements(again))
    // weight monotonicity: Exp(1000) arrivals beat Exp(10) essentially
    // always — the heavy half must dominate the sample
    assert(got.count(_ < 200) >= 45, s"heavy docs under-sampled: $got")
    // independent JVM reimplementation of the exponential race — exact
    // set equality, not statistics
    val md = java.security.MessageDigest.getInstance("MD5")
    def arrival(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val h = java.lang.Long.parseLong(hex, 16).toDouble
      math.floor(-math.log((h + 0.5) / 4294967296.0) / w.toDouble * 1e9).toLong
    }
    val expect = (0L until 400L).map(i => (i, if (i < 200) 1000L else 10L))
      .map { case (i, w) => (arrival(i, w), i) }.sorted.take(50).map(_._2).sorted
    assert(got.toSeq == expect.toSeq, "Spark race disagrees with the reimplementation")
    // nonpositive weights are deterministically never selected
    val withZero = (0L until 10L).map(i => (i, if (i == 3L) 0L else 100L))
      .toDF("doc_id", "w")
    val z = TextOps.sampleWeighted(withZero, "doc_id", "w", 9)
      .select("doc_id").as[Long].collect()
    assert(!z.contains(3L) && z.length == 9)
  }

  test("statsDrift: stable/shifted/vanished/new sources get the right verdicts") {
    val a = Seq(
      (1L, "stable", "aaaaaaaaaa"), (2L, "stable", "bbbbbbbbbb"),   // mean 10
      (3L, "shifted", "cccccccccc"), (4L, "shifted", "dddddddddd"), // mean 10
      (5L, "gone", "eeeeeeeeee")
    ).toDF("doc_id", "source", "text")
    val b = Seq(
      (1L, "stable", "aaaaaaaaaa"), (2L, "stable", "bbbbbbbbbb"),   // unchanged
      (3L, "shifted", "cccccccccccccccccccc"),                      // mean 15 (+50%)
      (4L, "shifted", "dddddddddd"),
      (6L, "fresh", "ffffffffff")                                   // new source
    ).toDF("doc_id", "source", "text")
    val out = graft.ext.TextOps.statsDrift(a, b, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(out("stable") == ((2L, 2L, false, false)))
    assert(out("shifted") == ((2L, 2L, true, false)), s"got ${out("shifted")}")
    // vanished: count 0, len verdict defaults drifted, coverage trips
    assert(out("gone") == ((1L, 0L, true, true)))
    // new source: drifted length (no baseline), coverage can't trip on n_a=0
    assert(out("fresh") == ((0L, 1L, true, false)))
    assert(out.size == 4)
  }

  test("blocklist: whole-token matching with auditable evidence") {
    val d = Seq(
      (1L, "clean text entirely fine"),
      (2L, "contains badword right here"),
      (3L, "badwords is a DIFFERENT token"),     // substring must not match
      (4L, "badword badword otherbad badword")   // multiple hits, min() term
    ).toDF("doc_id", "text")
    val out = TextOps.blocklist(d, "doc_id", "text", Seq("badword", "otherbad"))
      .select("doc_id", "n_hits", "first_term", "blocked")
      .as[(Long, Long, Option[String], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 0L, None, false)))
    assert(out(2L) == ((2L, 1L, Some("badword"), true)))
    assert(out(3L) == ((3L, 0L, None, false)))
    assert(out(4L) == ((4L, 4L, Some("badword"), true)))
  }

  test("lmScore: hand-computed add-one bigram probabilities on a 2-doc corpus") {
    // corpus: "a b a" + "a b" -> C(a,b)=2, C(b,a)=1; contexts C(a·)=2,
    // C(b·)=1; V=2. P(b|a)=(2+1)/(2+2)=0.75, P(a|b)=(1+1)/(1+2)=2/3.
    // doc1 avg = (ln .75 + ln 2/3)/2 = -0.346574, ppl = e^0.346574 = 1.4142
    // doc2 avg = ln .75 = -0.287682, ppl = 4/3
    val d = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.lmScore(d, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_logp", "ppl")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2L, -0.346574, 1.4142)))
    assert(out(2L) == ((2L, 1L, -0.287682, 1.3333)))
    // boilerplate scores more probable than rare word sequences: a doc
    // repeating the corpus's dominant bigram has higher avg_logp
    val c2 = (Seq((1L, "x y x y x y"), (2L, "x y")) ++
      Seq((3L, "p q"))).toDF("doc_id", "text")
    val s2 = TextOps.lmScore(c2, "doc_id", "text")
      .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
    assert(s2(1L) > s2(3L), "dominant-bigram doc should outscore the rare one")
  }

  test("pplBuckets: per-group terciles by perplexity, head = lowest third, short docs excluded") {
    // group g1: six docs whose ppl ordering is forced by how often
    // their bigrams repeat corpus-wide (more repeats -> more probable
    // -> lower ppl); ntile(3) of 6 = 2/2/2. group g2: a singleton is
    // all head (ntile puts the remainder in earlier tiles). A 1-word
    // doc carries no LM score and must be absent.
    val d = (
      (1L to 6L).map(i => (i, "x y " * i.toInt + "end" + i, "g1")) :+
      ((7L, "lone pair", "g2")) :+
      ((8L, "single", "g2"))
    ).toDF("doc_id", "text", "grp")
    val out = graft.ext.TextOps.pplBuckets(d, "doc_id", "text", "grp")
      .select("doc_id", "grp", "rk", "bucket")
      .as[(Long, String, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(8L), "1-word doc must be excluded (no LM score)")
    val g1 = out.values.filter(_._2 == "g1").toSeq.sortBy(_._3)
    assert(g1.map(_._4) == Seq("head", "head", "middle", "middle", "tail", "tail"),
      s"tercile cuts wrong: $g1")
    // more dominant-bigram mass -> lower ppl -> earlier rank
    assert(out(6L)._3 < out(1L)._3, "doc with most repeated bigrams must rank first")
    assert(out(7L)._4 == "head" && out(7L)._3 == 1L,
      "singleton group must be head (ntile remainder goes to earlier tiles)")
  }

  test("tokenEntropy: uniform text scores ln(k), repeated word lowers it") {
    val d = Seq(
      (1L, "aa bb aa"),          // p = 2/3, 1/3 -> H ≈ 0.636514
      (2L, "a b c d"),           // uniform k=4 -> H = ln 4
      (3L, "same same same")     // single type -> H = 0
    ).toDF("doc_id", "text")
    val out = TextOps.tokenEntropy(d, "doc_id", "text")
      .select("doc_id", "n_words", "n_distinct", "entropy", "perplexity")
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 3L && out(1L)._3 == 2L && out(1L)._4 == 0.636514)
    assert(out(2L)._4 == BigDecimal(math.log(4)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble && out(2L)._5 == 4.0)
    assert(out(3L)._4 == 0.0 && out(3L)._5 == 1.0)
  }

  test("packedBoundaries invariants: offsets ordered, first-start in-bin, counts consistent") {
    // greedy-chop semantics: within a bin, offsets strictly increase,
    // the FIRST doc's offset is < binTokens (later docs may start past
    // the nominal boundary when a predecessor straddled it), n_docs
    // matches the offset list, and total packed tokens are conserved
    val docs = (1L to 57L).map(i => (i, (i * 37 % 190 + 10), (i % 3).toString))
      .toDF("doc_id", "n_tokens", "bucket")
    val out = TextOps.packedBoundaries(docs, "doc_id", "n_tokens", "bucket", 128L)
      .select("bucket", "bin", "n_docs", "bin_tokens", "doc_offsets")
      .as[(String, Long, Long, Long, String)].collect()
    var total = 0L
    for ((_, _, nDocs, binTokens, offs) <- out) {
      val parts = offs.split(";").map { p =>
        val Array(id, off) = p.split("@"); (id.toLong, off.toLong)
      }
      assert(parts.length == nDocs)
      assert(parts.map(_._2).toSeq == parts.map(_._2).sorted.toSeq)
      assert(parts.map(_._2).distinct.length == parts.length) // strictly increasing
      assert(parts.head._2 < 128L)
      total += binTokens
    }
    assert(total == (1L to 57L).map(i => i * 37 % 190 + 10).sum)
  }

  test("canonicalUrlCol is idempotent; corpusDiff of a corpus with itself is all-unchanged") {
    // canonicalization is a normal form: applying it twice must be a
    // no-op, else url-dedup keys depend on how often a pipeline stage
    // ran. Covers absolute URLs, passthrough cases, and the port rules.
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/Page/?utm_source=s&b=2&a=1#frag",
      "http://a.com:80/x?gclid=g", "https://a.com:8080/", "/relative?x=1",
      "garbage", "", "https://h.com/p?z=9&y=8&utm_campaign=c")
    val once = urls.toDF("url")
      .select(TextOps.canonicalUrlCol(
        org.apache.spark.sql.functions.col("url")).as("c1"))
    val twice = once.select(TextOps.canonicalUrlCol(
      org.apache.spark.sql.functions.col("c1")).as("c2"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)

    // diff(x, x) = all unchanged — the no-op refresh must plan no work
    val docs = Seq((1L, "alpha beta"), (2L, "Gamma  delta")).toDF("doc_id", "text")
    val st = TextOps.corpusDiff(docs, docs, "doc_id", "text")
      .select("status").distinct().as[String].collect()
    assert(st.toSeq == Seq("unchanged"))
  }

  test("quantizationProfile: constant and zero dims reconstruct exactly") {
    // a dim at its own scale quantizes to code 127 exactly; a zero dim
    // has scale 0 and must map to 0.0, not NaN — both yield zero error
    // and self-cosine 1 for a vector living only in those dims
    val emb = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.quantizationProfile(emb, "vec_id", "embedding")
      .select("vec_id", "mean_abs_err", "max_abs_err", "rel_l2_err", "cos_self")
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    for ((_, mae, mxe, rl2, cs) <- out)
      assert(mae == 0.0 && mxe == 0.0 && rl2 == 0.0 && cs == 1.0)
  }

  test("dedupGroupsBest: cluster keeper is max-score (ties -> smaller id); singletons self-keep") {
    val scored = Seq((1L, 0.2), (2L, 0.5), (3L, 0.5), (4L, 0.9))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dedupGroupsBest(scored, "doc_id", "score", pairs)
      .select("doc_id", "group_id", "keep_id", "keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // chained component {1,2,3}: keeper is 2 (0.5 ties with 3, smaller id wins),
    // NOT min-id 1 (the lowest-quality member)
    assert(out.toSeq == Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 1L, 2L, false), (4L, 4L, 4L, true)))
  }

  test("qualityCalibrate: rank-based cutoffs hit the exact ceil(p*n)-th smallest score") {
    // 10 docs with k stopwords out of 10 words -> score = k/10; ranks:
    // p10 = 1st smallest, p50 = 5th, p90 = 9th. Filler tokens are
    // non-stopwords; 'the' is a stopword in every dictionary variant.
    val docs = (1 to 10).map { k =>
      (k.toLong, (Seq.fill(k)("the") ++ Seq.fill(10 - k)("zzqx")).mkString(" "), "web")
    }.toDF("doc_id", "text", "source")
    val out = TextOps.qualityCalibrate(docs, "doc_id", "text", "source")
      .select("source", "n_docs", "p10", "p50", "p90")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(out.toSeq == Seq(("web", 10L, 0.1, 0.5, 0.9)))
    // n = 1: all three cutoffs collapse to the single score
    val one = Seq((1L, "the zzqx", "s1")).toDF("doc_id", "text", "source")
    val o1 = TextOps.qualityCalibrate(one, "doc_id", "text", "source")
      .select("p10", "p50", "p90").as[(Double, Double, Double)].head()
    assert(o1 == ((0.5, 0.5, 0.5)))
  }

  test("canonicalUrlCol: case, default ports, tracking params, param order, slash, fragment") {
    val cases = Seq(
      // scheme+host lowercased, fragment dropped
      ("HTTPS://WWW.Example.COM/Page#frag", "https://www.example.com/Page"),
      // https:443 dropped, http:80 dropped — each scheme only its own
      ("https://a.com:443/x", "https://a.com/x"),
      ("http://a.com:80/x", "http://a.com/x"),
      ("http://a.com:443/x", "http://a.com:443/x"),
      ("https://a.com:8080/x", "https://a.com:8080/x"),
      // trailing slash(es) stripped; bare host stays bare
      ("https://a.com/x//", "https://a.com/x"),
      ("https://a.com/", "https://a.com"),
      // tracking params dropped, survivors sorted; all-tracking -> no '?'
      ("https://a.com/x?utm_source=s&b=2&a=1&fbclid=f", "https://a.com/x?a=1&b=2"),
      ("https://a.com/x?utm_campaign=c&gclid=g", "https://a.com/x"),
      // path case preserved (paths are case-sensitive, hosts are not)
      ("https://A.com/CaseSensitive?z=1&y=2", "https://a.com/CaseSensitive?y=2&z=1"),
      // a '?' inside the fragment is fragment content, not a query
      ("https://a.com/x#sec?b=2", "https://a.com/x"),
      // non-absolute-URL input: best-effort passthrough, never "://"
      ("/relative/path?a=1", "/relative/path?a=1"),
      ("not a url at all", "not a url at all"),
      ("", ""))
    val out = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalUrlCol(
        org.apache.spark.sql.functions.col("url"))).as[String].collect()
    for (((_, exp), got) <- cases.zip(out)) assert(got == exp, s"expected $exp got $got")

    // urlDedup: variants of one page collapse to the min-id keeper
    val dup = Seq(
      (1L, "https://a.com/x?utm_source=s"), (2L, "HTTPS://A.COM:443/x/"),
      (3L, "https://a.com/y")).toDF("doc_id", "url")
    val dec = TextOps.urlDedup(dup, "doc_id", "url")
      .select("doc_id", "keep_id", "keep", "n_variants")
      .as[(Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(dec.toSeq == Seq((1L, 1L, true, 2L), (2L, 1L, false, 2L), (3L, 3L, true, 1L)))
  }

  test("removeBoilerplateLines: cross-doc template chrome stripped, short separators exempt") {
    val d = Seq(
      (1L, "unique content one\nshared boilerplate line here\n--\nmore of doc one"),
      (2L, "shared boilerplate line here\n--\ndoc two says things"),
      (3L, "doc three text\nshared boilerplate line here\n--"),
      (4L, "shared boilerplate line here"), // all-boilerplate doc
      (5L, "entirely original document\n--")
    ).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplateLines(d, "doc_id", "text", minDf = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // df("shared boilerplate line here") = 4 >= 3 → stripped everywhere;
    // "--" appears in 4 docs but is under minLineChars → exempt
    assert(byId(1L)._3 == 1 && byId(2L)._3 == 1 && byId(3L)._3 == 1)
    assert(byId(5L)._3 == 0) // nothing stripped
    assert(byId(4L) == ((4L, 1L, 1L, byId(4L)._4)))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byId(4L)._4 == md5(""), "all-boilerplate doc rebuilds to empty")
    assert(byId(1L)._4 == md5("unique content one\n--\nmore of doc one"))
    assert(byId(3L)._4 == md5("doc three text\n--"))
  }

  test("bm25TopK: hand-computed scores; higher-tf shorter doc ranks first") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry date fig"),
      (3L, "cherry date fig grape")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(d, "doc_id", "text", Seq("q" -> Seq("apple")), 5)
      .as[(String, Long, Long, Double)].collect()
    assert(out.map(_._3).toSeq == Seq(1L, 2L), s"got ${out.toSeq}") // doc 3 never retrieved
    // independent recompute of the formula (N=3, df=2, avgdl=11/3)
    val N = 3.0; val dfc = 2.0; val avgdl = 11.0 / 3
    def s(tf: Double, dl: Double) =
      math.log((N - dfc + 0.5) / (dfc + 0.5) + 1) *
        (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0)._4 == r4(s(2, 3)) && out(1)._4 == r4(s(1, 4)), s"scores ${out.toSeq}")
  }

  test("hamming64Pairs == brute-force hamming over arbitrary 64-bit signatures") {
    val rnd = new scala.util.Random(23)
    val base = (0L until 40L).map(i => (i, rnd.nextLong()))
    // plant near-dups: flip 1-3 bits of some signatures
    val planted = Seq(
      (100L, base(0)._2 ^ 1L),
      (101L, base(1)._2 ^ (1L << 63) ^ (1L << 5)),
      (102L, base(2)._2 ^ 7L))
    val sigs = (base ++ planted).toDF("id", "h")
    val got = Dedup.hamming64Pairs(sigs, "id", "h", 3)
      .as[(Long, Long, Long)].collect().toSet
    val all = (base ++ planted)
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      hm = java.lang.Long.bitCount(ha ^ hb) if hm <= 3
    } yield (ia, ib, hm.toLong)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(Seq((0L, 100L, 1L), (1L, 101L, 2L), (2L, 102L, 3L)).forall(brute.contains))
  }

  test("bloomIncrementalExact == exact anti-join; bloom never drops a true new doc") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "corpus only content right here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The  quick brown fox jumps over the lazy dog"), // canonical dup of 1
      (11L, "genuinely new content never in the corpus"),
      (12L, "corpus only content right here")                // exact dup of 2
    ).toDF("doc_id", "text")
    val out = Dedup.bloomIncrementalExact(corpus, batch, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.01)
      .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._2 && !out(10L)._3) // whitespace/case-canonical dup dropped
    assert(!out(11L)._2 && out(11L)._3) // new doc kept (no false negatives)
    assert(out(12L)._2 && !out(12L)._3)
    assert(out.size == 3)
  }

  test("bloomIncrementalExact: null text is definite-new (SQL join semantics), not an NPE") {
    // null text → null fingerprint; null never equals anything in the
    // exact anti-join this operator must reproduce, so the doc is kept
    // — and the probe must not NPE on the null reaching the UDF
    val corpus = Seq((1L, "kept corpus doc"), (2L, null: String))
      .toDF("doc_id", "text")
    val batch = Seq((10L, null: String), (11L, "kept corpus doc"))
      .toDF("doc_id", "text")
    val out = Dedup.bloomIncrementalExact(corpus, batch, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.01)
      .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(!out(10L)._2 && out(10L)._3, s"null-text doc must be definite-new: $out")
    assert(out(11L)._2 && !out(11L)._3)
  }

  test("bloomIncrementalExact == plain anti-join on seeded random corpora") {
    import org.apache.spark.sql.functions.{col, lower, md5, regexp_replace, trim}
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def text() = Seq.fill(5 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpusTexts = Vector.fill(200)(text())
    val corpus = corpusTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // half the batch re-samples corpus texts (guaranteed dups modulo
    // random collisions), half is fresh random text (may still collide
    // — the small vocab makes collisions likely, which is the point)
    val batch = (0 until 100).map { i =>
      val t = if (i % 2 == 0) corpusTexts(rnd.nextInt(corpusTexts.size)) else text()
      ((1000 + i).toLong, t)
    }.toDF("doc_id", "text")
    val got = Dedup.bloomIncrementalExact(corpus, batch, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.01)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    def fp(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")).as("fp"))
    val expected = fp(batch).join(fp(corpus).select("fp").distinct()
        .withColumnRenamed("fp", "fp"), Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == 100)
    got.foreach { case (id, keep) =>
      assert(keep == expected.contains(id), s"doc $id keep=$keep != anti-join")
    }
  }

  test("decontaminate: eval docs never appear; flags are monotone in the eval set") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(23)
    val vocab = Vector("one", "two", "three", "four", "five", "six", "seven")
    def text() = Seq.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val d = (0 until 120).map(i => (i.toLong, text())).toDF("doc_id", "text")
    val sh = TextOps.shingles(d, "doc_id", "text", 3)
    val small = TextOps.decontaminate(sh, "doc_id", col("doc_id") < 10)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    val large = TextOps.decontaminate(sh, "doc_id", col("doc_id") < 30)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(small.keySet.forall(_ >= 10) && large.keySet.forall(_ >= 30))
    // a bigger eval set can only ADD contamination on the shared train docs
    large.keySet.foreach { id =>
      if (small.getOrElse(id, false)) assert(large(id),
        s"doc $id lost its contamination flag when the eval set grew")
    }
    // the tiny vocab guarantees the property is exercised, not vacuous
    assert(small.values.exists(identity) && large.values.exists(identity))
  }

  test("bruteForceTopK returns k exact neighbors ranked by cosine") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding", "vec_id = 0", 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(out.length == 2)
    assert(out(0)._3 == 1L) // rank 1 = nearest
    assert(out(1)._3 == 2L)
  }

  test("mixturePlan: targets from weights, epochs/rate math, absent group plans to zero") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val d = Seq(
      (1L, "alpha beta gamma delta words here", "en"),
      (2L, "more english text of some length", "en"),
      (3L, "kurzer deutscher text", "de"),
      (4L, "unplanned language text", "xx")
    ).toDF("doc_id", "text", "lang")
    val avail = TextOps.tokenCounts(d, "doc_id", "text")
      .join(d.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(fsum("n_bpe").as("t"))
      .as[(String, Long)].collect().toMap
    val plan = TextOps.mixturePlan(d, "doc_id", "text", "lang",
        Map("en" -> 0.5, "de" -> 0.25), 1000L)
      .orderBy("lang")
      .as[(String, Long, Long, Double, Long, Double, Double)].collect()
    val byLang = plan.map(r => r._1 -> r).toMap
    // exact targets for exactly-representable weights
    assert(byLang("en")._5 == 500L && byLang("de")._5 == 250L)
    assert(byLang("en")._2 == 2 && byLang("en")._3 == avail("en"))
    // epochs = target/avail; tiny corpus => target exceeds availability,
    // so epochs > 1 and the keep-rate caps at 1.0
    val enEpochs = BigDecimal(500.0 / avail("en"))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byLang("en")._6 == enEpochs)
    assert(byLang("en")._7 == 1.0 && byLang("de")._7 == 1.0)
    // group with no target weight plans to zero, not an error
    assert(byLang("xx")._4 == 0.0 && byLang("xx")._5 == 0L &&
      byLang("xx")._6 == 0.0 && byLang("xx")._7 == 0.0)
  }

  test("dsirWeights: matches an independent reimplementation of the DSIR math") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "spark table scan fast", "en"),
      (2L, "spark table scan fast", "en"),   // identical to 1 -> same weight
      (3L, "der hund ist gut", "de"),
      (4L, "spark", "de"),                   // single token: no bigrams
      (5L, "table fast hund spark", "de")
    ).toDF("doc_id", "text", "lang")
    val m = 64
    // independent model: MessageDigest md5 -> first 8 hex chars ->
    // bucket, add-one smoothing, ordered fold over bucket id
    def bucket(ng: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(ng.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % m
    }
    val corpus = Seq(
      (1L, "spark table scan fast", true), (2L, "spark table scan fast", true),
      (3L, "der hund ist gut", false), (4L, "spark", false),
      (5L, "table fast hund spark", false))
    def ngrams(t: String): Seq[String] = {
      val w = t.trim.toLowerCase.split("\\s+").toSeq
      w ++ w.zip(w.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val perDoc = corpus.map { case (id, t, tgt) =>
      (id, tgt, ngrams(t).groupBy(bucket).view.mapValues(_.size.toLong).toMap)
    }
    val ct = new Array[Long](m); val cr = new Array[Long](m)
    perDoc.foreach { case (_, tgt, bc) => bc.foreach { case (b, c) =>
      if (tgt) ct(b.toInt) += c
      cr(b.toInt) += c
    } }
    val (tt, tr) = (ct.sum, cr.sum)
    def lr(b: Int): Double =
      math.log((ct(b) + 1).toDouble / (tt + m)) -
        math.log((cr(b) + 1).toDouble / (tr + m))
    val expected = perDoc.map { case (id, _, bc) =>
      val lw = bc.toSeq.sortBy(_._1)
        .foldLeft(0.0) { case (acc, (b, c)) => acc + c.toDouble * lr(b.toInt) }
      id -> BigDecimal(lw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = TextOps.dsirWeights(d, "doc_id", "text", col("lang") === "en", m)
      .orderBy("doc_id")
      .as[(Long, Boolean, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    got.foreach { case (id, tgt, n, lw) =>
      assert(tgt == (id <= 2L))
      assert(n == ngrams(corpus(id.toInt - 1)._2).size, s"n_ngrams doc $id")
      assert(lw == expected(id), s"log_w doc $id: got $lw want ${expected(id)}")
    }
    // identical docs score identically; the target look-alike outranks
    // the disjoint non-target doc
    assert(got(0)._4 == got(1)._4)
    assert(got(0)._4 > got(2)._4)
  }

  test("dsirWeights: empty target subset degrades to uniform target model, no crash") {
    import org.apache.spark.sql.functions.col
    val d = Seq((1L, "alpha beta", "de"), (2L, "gamma", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.dsirWeights(d, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id").as[(Long, Boolean, Long, Double)].collect()
    assert(out.length == 2 && out.forall(!_._2))
    assert(out.forall(r => !r._4.isNaN && !r._4.isInfinite))
  }

  test("structureRoute: code signals fire on code, stay zero on prose") {
    val code = "    val x = f(1);\n    val y = g(x);\nreturn y;"
    val prose = "the quick brown fox jumps over the lazy dog again"
    val d = Seq((1L, code), (2L, prose), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.structureRoute(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // code doc: 3 lines, 2 indented, 3 ';'-terminated, sigils
    // =();×2 + ; = 9, keywords val,val,return
    assert(byId(1L)._2 == 3 && byId(1L)._3 == 0.666667 && byId(1L)._4 == 1.0)
    assert(byId(1L)._6 == 3L && byId(1L)._7 == "code")
    assert(math.abs(byId(1L)._5 - 9.0 / code.length) < 1e-6)
    // prose: single line, all signals zero
    assert(byId(2L)._2 == 1 && byId(2L)._3 == 0.0 && byId(2L)._5 == 0.0 &&
      byId(2L)._6 == 0L && byId(2L)._7 == "prose")
    // empty text degrades to zeros, not NaN/crash
    assert(byId(3L)._5 == 0.0 && byId(3L)._7 == "prose")
  }

  test("yieldCurve: cumulative-from-top docs/tokens per quality bin") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val d = Seq(
      (1L, "the the the the"),  // stopword_ratio 1.0 -> bin 20
      (2L, "the xyzq"),         // 0.5 -> bin 10
      (3L, "xyzq qqqz")         // 0.0 -> bin 0
    ).toDF("doc_id", "text")
    val curve = TextOps.yieldCurve(d, "doc_id", "text")
      .as[(Double, Long, Long)].collect()
    assert(curve.map(_._1).toSeq == Seq(0.0, 0.5, 1.0))
    // docs_ge cumulates upward from the top threshold
    assert(curve.map(_._2).toSeq == Seq(3L, 2L, 1L))
    // at threshold 0 every token survives; tokens_ge is non-increasing
    val total = TextOps.tokenCounts(d, "doc_id", "text")
      .agg(fsum("n_bpe")).as[Long].head()
    assert(curve.head._3 == total)
    assert(curve.map(_._3).toSeq == curve.map(_._3).toSeq.sorted.reverse)
  }

  test("mixtureMaterialize: per-doc reps bracket the group's epochs; dropped groups emit nothing") {
    val docs = Tables.documents(spark, sf)
    val weights = Map("en" -> 0.5, "zh" -> 0.1)
    val budget = 100000L
    val plan = TextOps.mixturePlan(docs, "doc_id", "text", "lang",
        weights, budget)
      .select("lang", "epochs").as[(String, Double)].collect().toMap
    val out = TextOps.mixtureMaterialize(docs, "doc_id", "text", "lang",
        weights, budget)
      .select("doc_id", "lang", "epoch_idx")
      .as[(Long, String, Long)].collect()
    // absent-weight groups plan to epochs 0 and must emit no rows
    assert(out.forall(r => weights.contains(r._2)))
    val reps = out.groupBy(r => (r._1, r._2)).view.mapValues(_.length).toMap
    reps.foreach { case ((id, g), n) =>
      val e = plan(g)
      assert(n == math.floor(e).toLong || n == math.ceil(e).toLong,
        s"doc $id in $g repeated $n times, epochs $e")
      // epoch indices are exactly 0..n-1
      val idx = out.filter(r => r._1 == id && r._2 == g).map(_._3).sorted
      assert(idx.sameElements(0L until n.toLong))
    }
    // the realized total matches epochs × group size: the whole passes
    // are exact, the fractional pass is a deterministic md5-bucket
    // draw whose count concentrates like a binomial — allow 4σ
    weights.keys.foreach { g =>
      val nDocs = docs.filter($"lang" === g).count()
      val frac = plan(g) - math.floor(plan(g))
      val sd = math.sqrt(nDocs * frac * (1 - frac))
      val tot = out.count(_._2 == g).toDouble
      assert(math.abs(tot - plan(g) * nDocs) <= 4 * sd + 2,
        s"$g: materialized $tot vs epochs ${plan(g)} × $nDocs docs (4σ=${4 * sd})")
    }
    // deterministic: a second run emits the identical multiset
    val again = TextOps.mixtureMaterialize(docs, "doc_id", "text", "lang",
        weights, budget)
      .select("doc_id", "lang", "epoch_idx")
      .as[(Long, String, Long)].collect()
    assert(out.sortBy(r => (r._1, r._3)).sameElements(
      again.sortBy(r => (r._1, r._3))))
  }

  test("mixtureMaterialize: a weighted group with zero tokens emits nothing (no null/inf epochs)") {
    // ADVICE r9: tokens_avail = 0 divides engine-divergently (Spark
    // null, DuckDB +inf) — the contract is such groups deterministically
    // drop, like zero-weight groups
    val docs = Seq((1L, "alpha beta gamma delta", "en"),
        (2L, "", "xx"), (3L, "", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.mixtureMaterialize(docs, "doc_id", "text", "lang",
        Map("en" -> 0.5, "xx" -> 0.5), 100L)
      .select("doc_id", "lang", "epoch_idx")
      .as[(Long, String, Long)].collect()
    assert(out.nonEmpty && out.forall(_._2 == "en"),
      s"zero-token group must vanish, got ${out.toSeq}")
  }

  test("trainingOrder: contiguous per-shard positions, input multiset preserved, repeats scattered") {
    val docs = Tables.documents(spark, sf)
    val mat = TextOps.mixtureMaterialize(docs, "doc_id", "text", "lang",
      Map("en" -> 0.5, "zh" -> 0.1), 100000L)
    val out = TextOps.trainingOrder(mat, "doc_id", "epoch_idx", 4)
      .select("doc_id", "epoch_idx", "shard", "pos")
      .as[(Long, Long, Long, Long)].collect()
    // the interleave is a pure relabeling: same (doc, epoch) multiset
    val inSet = mat.select("doc_id", "epoch_idx").as[(Long, Long)]
      .collect().sorted
    assert(out.map(r => (r._1, r._2)).sorted.sameElements(inSet))
    // positions are exactly 1..n within each shard
    out.groupBy(_._3).foreach { case (s, rows) =>
      assert(rows.map(_._4).sorted.sameElements(1L to rows.length.toLong),
        s"shard $s positions not contiguous")
    }
    assert(out.map(_._3).distinct.length == 4)
    // repetition-adjacency: docs with ≥3 epochs must not all land in
    // one shard-position run — across the corpus at least 90% of
    // multi-epoch docs span ≥2 shards (md5 scatter; deterministic)
    val multi = out.groupBy(_._1).filter(_._2.length >= 3)
    val spread = multi.count(_._2.map(_._3).distinct.length >= 2)
    assert(multi.isEmpty || spread.toDouble / multi.size >= 0.9,
      s"only $spread of ${multi.size} multi-epoch docs span shards")
    // determinism: identical output on a re-run
    val again = TextOps.trainingOrder(mat, "doc_id", "epoch_idx", 4)
      .select("doc_id", "epoch_idx", "shard", "pos")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sorted.sameElements(again.sorted))
  }

  test("qualityGate: the Wilson bound blocks a tiny perfect group that a naive p-hat rule would whitelist") {
    val good = "this is a perfectly reasonable document with plenty of " +
      "words and it keeps going for a while so the word count clears " +
      "the minimum threshold easily without any digits at all"
    val bad = "404 99 12 33"
    // tiny: 3/3 good. big: 80/100 good. naive p-hat would rank tiny
    // (1.0) above big (0.8); Wilson at n=3 drops the bound to ~0.44
    val rows = (1 to 3).map(i => (i.toLong, good, "tiny")) ++
      (1 to 80).map(i => (100L + i, good, "big")) ++
      (1 to 20).map(i => (200L + i, bad, "big"))
    val out = TextOps.qualityGate(rows.toDF("doc_id", "text", "src"),
        "doc_id", "text", "src", 30, 0.1, 0.55)
      .select("src", "n", "k", "p_good", "wilson_lo", "blocked")
      .as[(String, Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val tiny = out("tiny"); val big = out("big")
    assert(tiny._4 == 1.0 && tiny._6, s"tiny must be blocked despite p=1: $tiny")
    assert(big._4 == 0.8 && !big._6, s"big at p=0.8/n=100 must pass: $big")
    // the bound is a lower bound and tightens with n
    assert(tiny._5 < tiny._4 && big._5 < big._4)
    assert(big._5 > tiny._5)
    // closed-form check at n=3, k=3: lo = (1 + z²/6 − z·sqrt(z²/36)) / (1 + z²/3)
    val z = 1.96
    val expect = (1.0 + z * z / 6 - z * math.sqrt(z * z / 36)) / (1.0 + z * z / 3)
    assert(math.abs(tiny._5 - expect) < 1e-5, s"got ${tiny._5}, want $expect")
  }

  test("langConsistency: a half-en half-de doc flags mixed; a pure doc does not; no-stopword doc is und") {
    // stopword dictionaries include en 'the', de 'der' (langId fixture)
    val en = ("the and of to in " * 5).trim            // ~100 chars en
    val de = ("der die und das ist " * 5).trim        // ~100 chars de
    val docs = Seq(
      (1L, en + " " + de),          // chunk 100: chunk1 en, chunk2 de
      (2L, en + " " + en),          // pure en
      (3L, "zzz qqq xyzzy www aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk lll mmm nnn ooo ppp qqq rrr sss ttt uuu"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextOps.langConsistency(docs, "doc_id", "text", 100)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Double, Boolean)].collect().toSeq
    assert(out(0)._3 >= 2 && out(0)._6, s"mixed doc not flagged: ${out(0)}")
    assert(out(1)._3 == 1 && out(1)._4 == "en" && !out(1)._6, out(1).toString)
    assert(out(2)._3 == 0 && out(2)._4 == "und" && !out(2)._6, out(2).toString)
  }

  test("rankMetrics: hand-walked MRR/P@k/nDCG, perfect ranking scores 1, no-hit query scores 0") {
    // q1: relevant doc (rel 2) at rank 1, another (rel 1) at rank 3
    //     → mrr 1, p@3 = 2/3, and dcg == idcg iff ordering is ideal
    // q2: no relevant docs in the list → all zeros
    val ranked = Seq(
      ("q1", 1L, 101L), ("q1", 2L, 102L), ("q1", 3L, 103L),
      ("q2", 1L, 201L), ("q2", 2L, 202L), ("q2", 3L, 203L))
      .toDF("q_id", "rank", "doc_id")
    val qrels = Seq(("q1", 101L, 2L), ("q1", 103L, 1L), ("q2", 999L, 2L))
      .toDF("q_id", "doc_id", "rel")
    val out = graft.ext.TextOps.rankMetrics(ranked, qrels, 3)
      .orderBy("q_id")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // q1 dcg terms: 3/log2(2)=3, 1/log2(4)=0.5 → 3.5e6 micro;
    // ideal = rel sorted desc (2,1) at ranks 1,2: 3 + 1/log2(3)
    // = 3.630930; ndcg = 3500000/3630930 = 0.963940
    assert(out(0)._1 == "q1" && out(0)._2 == 2L && out(0)._3 == 1.0)
    assert(out(0)._4 == 0.666667)
    assert(out(0)._5 == 0.96394, out(0).toString)
    assert(out(1) == (("q2", 0L, 0.0, 0.0, 0.0)), out(1).toString)
    // a perfectly ordered list scores ndcg exactly 1
    val perfect = graft.ext.TextOps.rankMetrics(
      Seq(("q1", 1L, 101L), ("q1", 2L, 103L)).toDF("q_id", "rank", "doc_id"),
      qrels.filter($"q_id" === "q1"), 3)
      .as[(String, Long, Double, Double, Double)].head()
    assert(perfect._5 == 1.0, perfect.toString)
  }

  test("chainAudit: a chained A-B-C cluster is flagged by its A-C diameter; tight cluster is not") {
    // cluster 1: A~B and B~C paired, but A and C differ in many
    // chars — the closure glues them; diameter = lev(A, C) > tau.
    // cluster 2: two near-identical docs, diameter 1.
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc XXXX"),
      (3L, "YYYY bbbb cccc XXXX"),
      (10L, "qqqq rrrr ssss tttt"), (11L, "qqqq rrrr ssss tttz"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = graft.ext.Dedup.chainAudit(docs, "doc_id", "text", pairs, 6)
      .orderBy("group_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // diameters: lev(A,C) = 8 (two 4-char blocks) > 6 → chained;
    // lev of the tight pair = 1 → not
    assert(out == Seq((1L, 3L, 8L, true), (10L, 2L, 1L, false)), out.toString)
  }

  test("poissonBootstrapCI: constant metric collapses the CI to the point; CI brackets the mean; deterministic") {
    // a constant metric has zero sampling variance: every replicate
    // mean equals the point mean, so lo == mean == hi exactly
    val const = (1 to 50).map(i => (i.toLong, "c", 0.25))
      .toDF("doc_id", "src", "m")
    val c = TextOps.poissonBootstrapCI(const, "doc_id", "src", "m", 50, 0.1)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(c.toSeq == Seq(("c", 50L, 0.25, 0.25, 0.25)))
    // a spread metric: CI must bracket the point mean and have width
    val spread = (1 to 200).map(i => (i.toLong, "s", (i % 10).toDouble))
      .toDF("doc_id", "src", "m")
    val s = TextOps.poissonBootstrapCI(spread, "doc_id", "src", "m", 100, 0.1)
      .as[(String, Long, Double, Double, Double)].head()
    assert(s._2 == 200L && s._3 == 4.5)
    assert(s._4 < s._3 && s._3 < s._5, s"CI must bracket the mean: $s")
    assert(s._4 > 3.5 && s._5 < 5.5, s"CI implausibly wide for n=200: $s")
    // md5-derived weights: bit-identical on re-run
    val again = TextOps.poissonBootstrapCI(spread, "doc_id", "src", "m", 100, 0.1)
      .as[(String, Long, Double, Double, Double)].head()
    assert(s == again)
  }

  test("classifierLift: hand-walked bins, lift vs base rate, degenerate range collapses to bin 0") {
    // scores 0.0..0.9 in 2 bins over range [0, 0.9]: bin = (t·2) div 9
    // (micro ints) → scores 0.0-0.4 bin 0, 0.5-0.9 bin 1. Labels mark
    // the top 3 scores positive → base rate 0.3, bin1 rate 3/5 = 0.6,
    // lift 2.0; bin0 rate 0 with lift 0.
    val rows = (0 until 10).map(i => (i / 10.0, i >= 7))
      .toDF("nb_score", "label_weak")
    val out = TextOps.classifierLift(rows, "nb_score", "label_weak", 2)
      .orderBy("bin")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 5L, 0L, 0.0, 0.4, 0.0, 0.0),
      (1L, 5L, 3L, 0.5, 0.9, 0.6, 2.0)))
    // all-equal scores: everything lands in bin 0, frac = base, lift 1
    val flat = Seq((0.5, true), (0.5, false)).toDF("nb_score", "label_weak")
    val f = TextOps.classifierLift(flat, "nb_score", "label_weak", 4)
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(f == Seq((0L, 2L, 1L, 0.5, 0.5, 0.5, 1.0)))
  }

  test("waterfill: hand-walked level, small source capped, budget conserved") {
    // caps 100 and 10000 at budget 50% (B = 5050); micro-weights
    // w = ⌊√cap·10³⌋ = 10000 and 100000. The small source cannot
    // absorb its √-share → capped at 100; the level is
    // λ = (5050 − 100)/100000 = 0.0495 → big gets ⌊λ·100000⌋ = 4950.
    val docs = ((1 to 10).map(i => (i.toLong, "small", 10L)) ++
      (1 to 10).map(i => (100L + i, "big", 1000L)))
      .toDF("doc_id", "src", "sz")
    val out = TextOps.waterfillAllocate(docs, "src", "sz", 0.5)
      .select("src", "cap", "capped", "alloc", "lambda")
      .as[(String, Long, Boolean, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("small") == (("small", 100L, true, 100L, 0.0495)), out("small").toString)
    assert(out("big") == (("big", 10000L, false, 4950L, 0.0495)), out("big").toString)
    // invariants: alloc never exceeds cap; total spend never exceeds B
    assert(out.values.forall(r => r._4 <= r._2))
    assert(out.values.map(_._4).sum <= 5050L)
  }

  test("waterfill properties: seeded random caps — feasibility, spend, prefix-capped") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val nSrc = 2 + rnd.nextInt(8)
      val rows = (1 to nSrc).map(i =>
        (i.toLong, s"s$i", (1 + rnd.nextInt(100000)).toLong))
      val out = TextOps.waterfillAllocate(
          rows.toDF("doc_id", "src", "sz"), "src", "sz", 0.5)
        .select("src", "cap", "capped", "alloc")
        .as[(String, Long, Boolean, Long)].collect().toSeq
      val totCap = out.map(_._2).sum
      val b = math.floor(totCap.toDouble * 0.5).toLong
      // feasibility: alloc ≤ cap everywhere; budget never exceeded
      assert(out.forall(r => r._4 <= r._2), out.mkString(", "))
      val spend = out.map(_._4).sum
      assert(spend <= b, s"overspent: $spend > $b")
      // B < Σcap ⇒ the max-ratio source is never capped, and each
      // uncapped floor loses < 1 token — spend lands within
      // |uncapped| of the budget
      val nUncapped = out.count(!_._3)
      assert(nUncapped >= 1, "no uncapped source despite B < total cap")
      assert(b - spend < nUncapped.toLong, s"slack ${b - spend} ≥ $nUncapped")
      // capped set is a prefix of the cap/√cap (= √cap) ratio order
      val sorted = out.sortBy(r => (math.sqrt(r._2.toDouble), r._1))
      val firstUncapped = sorted.indexWhere(!_._3)
      assert(sorted.drop(firstUncapped).forall(!_._3),
        s"capped rows not a ratio-order prefix: $sorted")
    }
  }

  test("goodTuring: closed-form hapax mass; saturated source has 0 unseen mass") {
    import spark.implicits._
    // A: tokens (a a b) → N 3, V 2, hapax {b}, dis {a} → unseen 1/3
    // B: (c c c c) → no hapax → unseen 0, coverage 1
    val df = Seq(("A", "a a b"), ("B", "c c c c")).toDF("source", "text")
    val r = TextOps.goodTuring(df, "source", "text")
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1)
    assert(r(0) == (("A", 3L, 2L, 1L, 1L, 0.333333, 0.666667)), r(0).toString)
    assert(r(1) == (("B", 4L, 1L, 0L, 0L, 0.0, 1.0)), r(1).toString)
  }

  test("sourceKl: identical sources give 0; disjoint halves give ln 2 each") {
    import spark.implicits._
    // both sources == corpus distribution → KL 0
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("source", "text")
    val k0 = TextOps.sourceKl(same, "source", "text")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(k0.forall(_._4 == 0.0), k0.mkString(", "))
    // A = {x y}, B = {z z}: corpus = (x .25, y .25, z .5);
    // KL(A) = ln 2, KL(B) = ln 2 — closed form, 6dp 0.693147
    val split = Seq(("A", "x y"), ("B", "z z")).toDF("source", "text")
    val k1 = TextOps.sourceKl(split, "source", "text")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(k1.map(_._4).toSeq == Seq(0.693147, 0.693147), k1.mkString(", "))
    assert(k1.map(_._2).toSeq == Seq(2L, 2L) && k1.map(_._3).toSeq == Seq(2L, 1L))
  }

  test("zipfFit: a freq = C/r corpus fits slope ≈ −1; a uniform corpus fits 0") {
    import spark.implicits._
    // word r appears round(720/r) times → ln f ≈ ln 720 − ln r
    val zipfDocs = Seq((1L, (1 to 12).flatMap(r =>
      Seq.fill(math.round(720.0 / r).toInt)(s"w$r")).mkString(" ")))
      .toDF("doc_id", "text")
    val fit = TextOps.zipfFit(zipfDocs, "doc_id", "text", 12)
      .as[(Long, Double, Double)].head()
    assert(fit._1 == 12L)
    assert(math.abs(fit._2 + 1.0) < 0.02, s"slope ${fit._2}")
    val flat = Seq((1L, (1 to 12).flatMap(r => Seq.fill(50)(s"w$r")).mkString(" ")))
      .toDF("doc_id", "text")
    val f2 = TextOps.zipfFit(flat, "doc_id", "text", 12)
      .as[(Long, Double, Double)].head()
    assert(f2._2 == 0.0, s"uniform slope ${f2._2}")
  }

  test("heapsCurve: all-new-words corpus has vocab_cum == tokens_cum; repeats flatten it") {
    import spark.implicits._
    val fresh = (0L until 20L).map(i => (i, s"a$i b$i c$i")).toDF("doc_id", "text")
    val c = TextOps.heapsCurve(fresh, "doc_id", "text", 4).orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect()
    assert(c.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(c.forall(r => r._4 == r._3), c.mkString(", ")) // every token new
    assert(c.last._3 == 60L && c.last._2 == 5L)
    val repeats = (0L until 20L).map(i => (i, "same words only")).toDF("doc_id", "text")
    val r = TextOps.heapsCurve(repeats, "doc_id", "text", 4).orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.last._4 == 3L && r.last._3 == 60L, r.mkString(", "))
    assert(r.head._4 == 3L) // whole vocabulary seen in the first bucket
  }

  test("collocations: closed-form PMI, minCount prunes the rare pair, tie order stable") {
    // 10 docs "x y", 6 docs "x z", 4 docs "w q":
    // N1 = 40 tokens, N2 = 20 bigrams; c(x)=16, c(y)=10, c(z)=6
    // PMI(x,y) = ln(10·40²/(20·16·10)) = ln 5; PMI(x,z) = ln 5 too
    // (same margin structure); (w,q) occurs 4 < minCount 5 -> pruned
    val docs = ((0 until 10).map(i => (i.toLong, "x y"))
      ++ (10 until 16).map(i => (i.toLong, "x z"))
      ++ (16 until 20).map(i => (i.toLong, "w q")))
      .toDF("doc_id", "text")
    val got = TextOps.collocations(docs, "doc_id", "text", 5L, 10)
      .as[(String, String, Long, Long, Long, Double)].collect()
    val ln5 = math.floor(math.log(5.0) * 1e6 + 0.5) / 1e6
    assert(got.map(r => (r._1, r._2)).toSeq == Seq("x" -> "y", "x" -> "z"),
      got.mkString(", "))
    got.foreach { r => assert(r._6 == ln5, s"pmi != ln 5: $r") }
    assert(got.head._3 == 10L && got.head._4 == 16L && got.head._5 == 10L,
      got.head.toString)
  }

  test("neymanAllocation: budget chases variance, zero-variance strata take the floor, caps hold") {
    // stratum a: 100 rows alternating 0/200 (std_pop = 100);
    // stratum b: 100 rows all exactly 50 (std_pop = 0);
    // stratum c: 10 rows alternating 0/20 (std_pop = 10)
    val rows =
      (0 until 100).map(i => ("a", if (i % 2 == 0) 0L else 200L)) ++
      (0 until 100).map(_ => ("b", 50L)) ++
      (0 until 10).map(i => ("c", if (i % 2 == 0) 0L else 20L))
    val got = TextOps.neymanAllocation(rows.toDF("src", "v"), "src", "v", 100)
      .orderBy("stratum")
      .as[(String, Long, Double, Long, Long)].collect()
    val Array(a, b, c) = got
    assert(a._3 == 100.0 && b._3 == 0.0 && c._3 == 10.0, got.mkString(", "))
    // proportional ignores variance: a,b get 48 each (100*100/210), c gets 5
    assert(a._4 == 48L && b._4 == 48L && c._4 == 5L, got.mkString(", "))
    // Neyman: weights N_h*S_h = 10000 / 0 / 100 -> a ~99, b floor 1, c 1
    assert(a._5 == 99L && b._5 == 1L && c._5 == 1L, got.mkString(", "))
    // variance of the stratified mean under Neyman never exceeds
    // proportional (the Neyman 1934 optimality this operator buys)
    def se2(alloc: Int => Long) = got.zipWithIndex.map { case (r, i) =>
      val nh = r._2.toDouble; val n = got.map(_._2).sum.toDouble
      (nh / n) * (nh / n) * r._3 * r._3 / alloc(i)
    }.sum
    assert(se2(i => got(i)._5) <= se2(i => got(i)._4) + 1e-12)
  }

  test("neymanAllocation: all-zero-variance corpus falls back to proportional; cap at population") {
    val rows = (0 until 90).map(_ => ("a", 5L)) ++ (0 until 10).map(_ => ("b", 9L))
    val got = TextOps.neymanAllocation(rows.toDF("src", "v"), "src", "v", 200)
      .orderBy("stratum").as[(String, Long, Double, Long, Long)].collect()
    // budget 200 > population 100: both allocations cap at N_h
    assert(got.map(_._4).toSeq == Seq(90L, 10L), got.mkString(", "))
    assert(got.map(_._5).toSeq == Seq(90L, 10L), got.mkString(", "))
    assert(got.forall(_._3 == 0.0))
  }
}
