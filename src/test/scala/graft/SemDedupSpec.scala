package graft

import graft.ml.SemDedup
import org.apache.spark.sql.functions.{col, count, lit, size, sum}

/** SemDeDup semantics on closed-form two-cluster fixtures: the
  * within-cluster pairing, the lowest-centroid-similarity keep rule,
  * and the degrade paths. Angles make the geometry auditable — unit
  * vectors at angle θ have pairwise cosine cos(θa − θb). */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def unit(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r).toFloat, math.sin(r).toFloat)
  }

  // cluster A hugs 0°, cluster B hugs 90°; eps = 0.99 ≈ 8.1° pairs
  // only (1,2) [Δ1°] and (4,5) [Δ2°] — (1,3)/(2,3) at Δ10°/9° and
  // (4,6)/(5,6) at Δ10°/12° stay out, as does everything cross-cluster
  private lazy val emb = Seq(
    (1L, unit(0)), (2L, unit(1)), (3L, unit(10)),
    (4L, unit(90)), (5L, unit(92)), (6L, unit(80))
  ).toDF("vec_id", "embedding")

  test("semDedup: within-cluster pairing, lowest-centroid-sim survivor") {
    val out = SemDedup.semDedup(emb, "vec_id", "embedding", 2, 0.99)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Double, Long, Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val byId = out.map(r => r._1 -> r).toMap
    // KMeans separates the two angle blobs
    val ca = Seq(1L, 2L, 3L).map(byId(_)._2).distinct
    val cb = Seq(4L, 5L, 6L).map(byId(_)._2).distinct
    assert(ca.size == 1 && cb.size == 1 && ca != cb)
    // groups: {1,2} and {4,5}; 3 and 6 singletons
    assert(byId(1L)._3 == byId(2L)._3)
    assert(byId(4L)._3 == byId(5L)._3)
    assert(byId(3L)._3 != byId(1L)._3 && byId(6L)._3 != byId(4L)._3)
    // keep rule: centroid A sits near 3.67°, so vec 1 (0°) is FARTHER
    // from it than vec 2 (1°) → 1 survives; centroid B near 87.3°, so
    // vec 5 (92°) is farther than vec 4 (90°) → 5 survives
    assert(byId(1L)._6 && !byId(2L)._6 && byId(2L)._5 == 1L)
    assert(byId(5L)._6 && !byId(4L)._6 && byId(4L)._5 == 5L)
    // singletons keep themselves
    assert(byId(3L)._6 && byId(3L)._5 == 3L)
    assert(byId(6L)._6 && byId(6L)._5 == 6L)
    // the survivor is the group's minimum centroid similarity
    assert(byId(1L)._4 < byId(2L)._4)
    assert(byId(5L)._4 < byId(4L)._4)
  }

  test("semDedup: eps above every pairwise cosine keeps everything") {
    val out = SemDedup.semDedup(emb, "vec_id", "embedding", 2, 0.9999995)
      .as[(Long, Long, Long, Double, Long, Boolean)].collect()
    assert(out.length == 6 && out.forall(_._6))
    assert(out.forall(r => r._5 == r._1))
  }

  test("evalContamination: nearest eval, flag at tau, argmax tie to smaller eval id") {
    import graft.ext.Similarity
    // eval at 0° and 90°; train at 5° (near eval 100), 85° (near eval
    // 200), 45° (equidistant — cosine ties at 5dp, smaller id wins)
    val ev = Seq((100L, unit(0)), (200L, unit(90))).toDF("vec_id", "embedding")
    val tr = Seq((1L, unit(5)), (2L, unit(85)), (3L, unit(45)))
      .toDF("vec_id", "embedding")
    val out = Similarity.evalContamination(tr, ev, "vec_id", "embedding", 0.9)
      .orderBy("vec_id")
      .as[(Long, Long, Double, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 100L && byId(1L)._4)   // cos5° ≈ .996 ≥ .9
    assert(byId(2L)._2 == 200L && byId(2L)._4)   // cos5° ≈ .996 ≥ .9
    assert(byId(3L)._2 == 100L && !byId(3L)._4)  // cos45° ≈ .707; tie → 100
    assert(math.abs(byId(1L)._3 - math.cos(math.toRadians(5))) < 1e-4)
  }

  test("evalContamination: bucketed fallback (gate forced to 0) equals the broadcast path") {
    import graft.ext.Similarity
    // a large-enough frame that several buckets are actually populated
    val ev = (0 until 17).map(i => (100L + i, unit(i * 21 % 180)))
      .toDF("vec_id", "embedding")
    val tr = (0 until 53).map(i => (i.toLong, unit(i * 7 % 180)))
      .toDF("vec_id", "embedding")
    val bc = Similarity.evalContamination(tr, ev, "vec_id", "embedding", 0.9)
      .orderBy("vec_id").collect().toSeq
    val fb = Similarity.evalContamination(tr, ev, "vec_id", "embedding", 0.9,
        maxBroadcastBytes = 0L)
      .orderBy("vec_id").collect().toSeq
    assert(bc == fb, "gated fallback must be bitwise-equal to the broadcast plan")
  }

  test("evalContamination: a second call against the same eval frame skips the size probe") {
    import graft.ext.Similarity
    val ev = Seq((700L, unit(33)), (800L, unit(66))).toDF("vec_id", "embedding")
    val tr = Seq((7L, unit(30)), (8L, unit(70))).toDF("vec_id", "embedding")
    def run() = Similarity.evalContamination(tr, ev, "vec_id", "embedding", 0.9)
      .orderBy("vec_id").collect().toSeq
    val (first, r1) = jobsOf(run())
    val (second, r2) = jobsOf(run())
    assert(r1 == r2)
    // the probe is one global aggregate over the eval side: under AQE
    // its shuffle stage and its result each run as a job
    val (probe, _) = jobsOf(ev.agg(sum(size(col("embedding"))), count(lit(1))).head())
    assert(probe >= 1 && second == first - probe,
      s"first call $first jobs, second $second, the probe alone $probe")
  }

  test("epsPairs: confined scan == co-clustered subset of the exact scan") {
    import graft.ext.Dedup
    val exact = Dedup.cosinePairs(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val asg = SemDedup.assignments(emb, "vec_id", "embedding", 2)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    val within = exact.filter { case (a, b) => asg(a) == asg(b) }
    val confined = SemDedup.epsPairs(emb, "vec_id", "embedding", 2, 0.9)
      .as[(Long, Long)].collect().toSet
    // multi-probe may only ADD exact pairs beyond the primary-cluster
    // subset; here (no cross-blob exact pair at eps=0.9) it adds none
    assert(confined == within,
      s"confined scan must find exactly the co-clustered exact pairs: $confined vs $within")
  }

  test("epsPairs multi-probe: a pair straddling a primary boundary is caught via the shared second-nearest cell") {
    import graft.ext.Dedup
    // three blobs at 0°, 40°, 80°; 18° and 22° straddle the 0/40
    // boundary (Δ4° → cos ≈ 0.9976 ≥ eps) with DIFFERENT primary
    // clusters but each other's blob as second-nearest — the exact
    // miss single-probe confinement is blind to
    val d = Seq(
      (1L, unit(0)), (2L, unit(2)), (3L, unit(5)),
      (4L, unit(40)), (5L, unit(42)), (6L, unit(38)),
      (7L, unit(80)), (8L, unit(78)), (9L, unit(82)),
      (10L, unit(18)), (11L, unit(22))
    ).toDF("vec_id", "embedding")
    val eps = 0.997
    val asg = SemDedup.assignments(d, "vec_id", "embedding", 3)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    // the fixture only tests multi-probe if the straddle is real
    assert(asg(10L) != asg(11L), "fixture: 18° and 22° must split primaries")
    val confined = SemDedup.epsPairs(d, "vec_id", "embedding", 3, eps)
      .as[(Long, Long)].collect().toSet
    assert(confined.contains((10L, 11L)),
      "multi-probe must catch the boundary-straddling eps-pair")
    // and it stays honest: every found pair is a true eps-pair
    val exact = Dedup.cosinePairs(d, "vec_id", "embedding", eps)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(confined.subsetOf(exact))
  }

  test("semDedup: exact-duplicate vectors tie-break to the smaller id") {
    val d = Seq((7L, unit(45)), (8L, unit(45)), (9L, unit(135)))
      .toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(d, "vec_id", "embedding", 2, 0.99)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Double, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // identical vectors have identical cent_sim — the id breaks the tie
    assert(byId(7L)._6 && !byId(8L)._6 && byId(8L)._5 == 7L)
    assert(byId(9L)._6)
  }
}
