package graft

import org.apache.spark.sql.functions._
import graft.ops.SeriesOps
import graft.ml.{Clustering, Dbscan, Embedding, KShape, TraceBack}

/** E1/C1/C2/C4/A4/A5 on the FIXTURES.md generators: two_blob_clusters
  * (sine vs ramp), noise_plus_blobs (+3 far outliers), shifted_pairs
  * (K-Shape's raison d'être). */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val L = 64

  /** 2×20 distinct shapes: sine vs ramp, slight deterministic jitter. */
  private def twoBlobs = {
    val rows = (0 until 40).map { i =>
      val vals =
        if (i < 20) (0 until L).map(t => math.sin(2 * math.Pi * t / 16.0) + 0.001 * ((i * 7 + t) % 5)).toArray
        else (0 until L).map(t => t / 32.0 - 1.0 + 0.001 * ((i * 11 + t) % 5)).toArray
      (i.toLong, vals)
    }
    rows.toDF("series_id", "values")
  }

  test("PCA separates the two shape blobs; KMeans k=2 recovers the partition (E1+C1)") {
    val emb = Embedding.pca2d(twoBlobs).cache()
    val assigned = Clustering.kmeans(emb, 2, seed = 10)
      .select("series_id", "cluster").as[(Long, Int)].collect().toMap
    val g1 = (0L until 20L).map(assigned).toSet
    val g2 = (20L until 40L).map(assigned).toSet
    assert(g1.size == 1 && g2.size == 1 && g1 != g2)
  }

  test("silhouette scan prefers k=2 for two blobs (A5+C4)") {
    val emb = Embedding.pca2d(twoBlobs)
    val top = Clustering.silhouetteScan(emb, 6).head()
    assert(top.getInt(0) == 2)
    assert(top.getDouble(1) > 50.0) // well-separated
  }

  test("centroid representative is the member nearest the class mean (A4)") {
    val emb = Seq(
      (1L, 0.0, 0.0, 0), (2L, 1.0, 0.0, 0), (3L, 0.4, 0.0, 0),
      (4L, 10.0, 10.0, 1), (5L, 12.0, 10.0, 1),
      (6L, -99.0, -99.0, -1) // noise is skipped (app.py:1003-1034)
    ).toDF("series_id", "x", "y", "cluster")
    val reps = TraceBack.centroidRepresentatives(emb)
      .select("cluster", "rep_id").as[(Int, Long)].collect().toMap
    assert(reps == Map(0 -> 3L, 1 -> 4L))
  }

  test("centroid representatives: driver path == Window plan, and every representative is an argmin") {
    // blobs with noise (−1), an exact four-way distance tie (cluster 2:
    // mean (1, 0), every member at distance exactly 1), a singleton
    // cluster, ids scattered over partitions out of id order
    val rows =
      (0 until 30).map(i => (100L + (i * 7) % 30, 0.3 * (i % 5) + 0.01 * i, 0.2 * (i / 5), 0)) ++
      (0 until 25).map(i => (200L + (i * 3) % 25, 8.0 + 0.17 * (i % 4), -3.0 + 0.29 * (i / 4), 1)) ++
      Seq((304L, 1.0, -1.0, 2), (301L, 2.0, 0.0, 2), (303L, 1.0, 1.0, 2), (302L, 0.0, 0.0, 2)) ++
      Seq((400L, 50.0, 50.0, 3)) ++
      Seq((500L, -90.0, 7.0, -1), (501L, 1.0, 0.0, -1))
    val asInt = rows.toDF("series_id", "x", "y", "cluster").repartition(3)
    val asLong = asInt.withColumn("cluster", col("cluster").cast("long"))
    for (assigned <- Seq(asInt, asLong)) {
      val driver = TraceBack.centroidRepresentatives(assigned)
      val plan = TraceBack.centroidRepresentatives(assigned, 0L)
      assert(driver.schema == plan.schema)
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().sortBy(_.get(0).toString.toLong)
      val (d, p) = (sorted(driver), sorted(plan))
      assert(d.map(r => (r.get(0), r.get(1))).toSeq == p.map(r => (r.get(0), r.get(1))).toSeq)
      d.zip(p).foreach { case (a, b) =>
        for (c <- Seq(2, 3)) {
          val (u, v) = (a.getDouble(c), b.getDouble(c))
          assert(math.abs(u - v) <= 1e-12 * math.max(math.abs(v), 1e-300), s"$u vs $v")
        }
      }
      val reps = d.map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
      assert(reps.keySet == Set(0, 1, 2, 3))
      assert(reps(2) == 301L && reps(3) == 400L)
      // data-derived invariant: the representative is a member whose
      // distance to the member mean no member beats; ties go to the
      // lowest id
      rows.filter(_._4 != -1).groupBy(_._4).foreach { case (c, ms) =>
        val (mx, my) = (ms.map(_._2).sum / ms.size, ms.map(_._3).sum / ms.size)
        def dist(m: (Long, Double, Double, Int)) = math.hypot(m._2 - mx, m._3 - my)
        val rep = ms.find(_._1 == reps(c)).get
        assert(ms.forall(m => dist(rep) <= dist(m) + 1e-12))
        assert(ms.filter(m => dist(m) <= dist(rep) + 1e-12).map(_._1).min == rep._1)
      }
    }
  }

  test("centroid representatives: decimal coordinates and null ids/coordinates keep the Window plan's answer") {
    val base = Seq((1L, 0.0, 0.0, 0), (2L, 2.0, 0.0, 0), (3L, 0.9, 0.1, 0), (4L, 5.0, 5.0, 1))
      .toDF("series_id", "x", "y", "cluster")
    // avg of a decimal column is decimal: the plan's decimal centroids
    val dec = base.withColumn("x", col("x").cast("decimal(10,4)"))
      .withColumn("y", col("y").cast("decimal(10,4)"))
    val decOut = TraceBack.centroidRepresentatives(dec)
    assert(decOut.schema("cx").dataType == org.apache.spark.sql.types.DecimalType(14, 8))
    assert(decOut.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(0 -> 3L, 1 -> 4L))
    // a null coordinate has a null distance, which the plan orders first;
    // a null id sorts first among equal distances
    val withNulls = base.union(Seq(
      (Some(5L), None, Some(1.0), 1), (None, Some(5.0), Some(5.0), 1))
      .toDF("series_id", "x", "y", "cluster"))
    for (assigned <- Seq(withNulls, withNulls.filter(col("x").isNotNull))) {
      val driver = TraceBack.centroidRepresentatives(assigned).collect().sortBy(_.getInt(0))
      val plan = TraceBack.centroidRepresentatives(assigned, 0L).collect().sortBy(_.getInt(0))
      assert(driver.toSeq == plan.toSeq)
    }
    assert(TraceBack.centroidRepresentatives(withNulls).collect()
      .map(r => r.getInt(0) -> r.get(1)).toMap == Map(0 -> 3L, 1 -> 5L))
  }

  test("K-Means driver path returns emb's columns and types with cluster appended") {
    val emb = Seq((2, 0.0, 0.0, "a"), (1, 0.1, 0.0, "b"), (3, 9.0, 9.0, "c"))
      .toDF("series_id", "x", "y", "tag")
    val out = Clustering.kmeans(emb, 2)
    assert(out.schema == emb.schema.add("cluster", "int", nullable = false))
    val got = out.collect().map(r => r.getInt(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(got.keySet == Set(1, 2, 3) && got(1)._1 == "b" && got(3)._1 == "c")
    assert(got(1)._2 == got(2)._2 && got(1)._2 != got(3)._2)
  }

  test("DBSCAN labels far points −1 and separates the blobs (C2+C7)") {
    val pts = (
      (0 until 20).map(i => (i.toLong, 0.0 + (i % 5) * 0.1, 0.0 + (i / 5) * 0.1)) ++
      (20 until 40).map(i => (i.toLong, 10.0 + (i % 5) * 0.1, 10.0 + ((i - 20) / 5) * 0.1)) ++
      Seq((40L, 100.0, 100.0), (41L, -100.0, 50.0), (42L, 50.0, -100.0))
    ).toDF("series_id", "x", "y")
    val out = Dbscan.run(pts, eps = 0.5, minPts = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(40L, 41L, 42L).forall(out(_) == -1L))
    val c1 = (0L until 20L).map(out).toSet
    val c2 = (20L until 40L).map(out).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2 && !c1.contains(-1L))
  }

  test("DBSCAN distributed label propagation matches the driver union-find path") {
    val pts = (
      (0 until 20).map(i => (i.toLong, 0.0 + (i % 5) * 0.1, 0.0 + (i / 5) * 0.1)) ++
      (20 until 40).map(i => (i.toLong, 10.0 + (i % 5) * 0.1, 10.0 + ((i - 20) / 5) * 0.1)) ++
      Seq((40L, 100.0, 100.0))
    ).toDF("series_id", "x", "y")
    // maxDriverPoints = 0 on both sides: this test compares the two CC
    // ENGINES of the distributed build (driver union-find vs label
    // propagation), so the r18 whole-run points kernel must stay out
    val local = Dbscan.run(pts, 0.5, 4, maxDriverPoints = 0)
      .as[(Long, Long)].collect().toMap
    val dist = Dbscan.run(pts, 0.5, 4, maxDriverEdges = 0, maxDriverPoints = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }

  test("DBSCAN driver points kernel is identical to the distributed build") {
    // r18 gate parity: blobs + bridge points + noise + a border point,
    // irregular enough that degrees, components and border labels all
    // have work to do; the kernel (default gates) must equal the fully
    // distributed build (both gates forced off) row for row
    val pts = (
      (0 until 20).map(i => (i.toLong, (i % 5) * 0.3, (i / 5) * 0.3)) ++
      (20 until 40).map(i => (i.toLong, 7.0 + (i % 5) * 0.3, 7.0 + ((i - 20) / 5) * 0.3)) ++
      Seq((40L, 2.0, 0.0),   // border-ish satellite of blob 1
          (41L, 100.0, 100.0), (42L, -100.0, 50.0)) // noise
    ).toDF("series_id", "x", "y")
    for ((eps, minPts) <- Seq((0.5, 4), (0.35, 3))) {
      val fast = Dbscan.run(pts, eps, minPts).as[(Long, Long)].collect().toMap
      val dist = Dbscan.run(pts, eps, minPts, maxDriverEdges = 0,
        maxDriverPoints = 0).as[(Long, Long)].collect().toMap
      assert(fast == dist, s"eps=$eps minPts=$minPts diverged")
    }
  }

  test("DBSCAN labels satisfy the definition on both the driver kernel and the distributed build") {
    // data-derived oracle: every label is checked against an O(n²)
    // reading of the definition, not against the other path
    val rnd = new scala.util.Random(7)
    val blobs = (0 until 160).map { i =>
      val (cx, cy, sd) = Seq((0.0, 0.0, 0.3), (4.0, 1.0, 0.5), (1.5, 5.0, 0.9), (3.0, 3.0, 3.0))(i % 4)
      (i.toLong * 3 + 5, cx + sd * rnd.nextGaussian(), cy + sd * rnd.nextGaussian())
    }
    for ((eps, minPts) <- Seq((0.5, 4), (0.3, 3), (0.8, 6))) {
      // two rows of minPts core points, 1.9·eps apart, and one point
      // between them within eps of one core of each: a border point
      // (for minPts > 3) whose core neighbours carry two labels; the
      // left row, met first by the grid walk, has the larger ids
      val bridge = (0 until minPts).flatMap { j => Seq(
          (9000L + j, 100.0 - 0.1 * eps * j, 100.0),
          (8000L + j, 100.0 + 1.9 * eps + 0.1 * eps * j, 100.0))
        } :+ ((8500L, 100.0 + 0.95 * eps, 100.0))
      val raw = blobs ++ bridge
      val pts = raw.toDF("series_id", "x", "y")
      val within = raw.map { case (_, x, y) =>
        raw.indices.filter { j =>
          math.pow(x - raw(j)._2, 2) + math.pow(y - raw(j)._3, 2) <= eps * eps
        }
      }
      val core = within.map(_.size >= minPts)
      // core-connected components by graph search, labelled by min id
      val comp = Array.fill(raw.size)(-1L)
      raw.indices.filter(core).foreach { s0 =>
        if (comp(s0) < 0) {
          val seen = scala.collection.mutable.LinkedHashSet(s0)
          var frontier = Seq(s0)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(within).filter(j => core(j) && seen.add(j))
          }
          val label = seen.map(raw(_)._1).min
          seen.foreach(comp(_) = label)
        }
      }
      val border = raw.indices.filter(i => !core(i) && within(i).exists(core))
      val noise = raw.indices.filter(i => !core(i) && !within(i).exists(core))
      assert(border.nonEmpty && noise.nonEmpty && comp.distinct.size > 2,
        s"eps=$eps minPts=$minPts: the data must exercise every rule")
      assert(minPts <= 3 || border.exists(i => within(i).filter(core).map(comp).distinct.size > 1),
        s"eps=$eps minPts=$minPts: no border point between two clusters")
      for ((path, out) <- Seq(
          "driver" -> Dbscan.run(pts, eps, minPts),
          "distributed" -> Dbscan.run(pts, eps, minPts, maxDriverEdges = 0, maxDriverPoints = 0))) {
        val label = out.as[(Long, Long)].collect().toMap
        val at = s"$path eps=$eps minPts=$minPts"
        assert(label.size == raw.size, at)
        raw.indices.foreach { i =>
          val id = raw(i)._1
          if (core(i)) assert(label(id) == comp(i), s"$at: core $id")
          else if (border.contains(i))
            assert(label(id) == within(i).filter(core).map(comp).min, s"$at: border $id")
          else assert(label(id) == -1L, s"$at: noise $id")
        }
        // read from the output side: no point labelled noise has a
        // core point (minPts within eps, itself included) within eps
        assert(raw.indices.filter(i => label(raw(i)._1) == -1L)
          .forall(i => !within(i).exists(core)), s"$at: noise next to a core point")
      }
    }
  }

  test("K-Shape distributed path matches the driver-local path") {
    val base = (0 until 64).map(t => math.sin(2 * math.Pi * t / 16.0)).toArray
    val saw = (0 until 64).map(t => (t % 32) / 16.0 - 1.0).toArray
    val rows = (0 until 8).map { i =>
      val shift = (i % 4) * 5
      val src = if (i < 4) base else saw
      (i.toLong, src.drop(shift) ++ src.take(shift))
    }
    val df = rows.toDF("series_id", "values")
    val local = KShape.fit(df, 2, maxIter = 4).as[(Long, Int)].collect().toMap
    val dist = KShape.fitDistributed(df, 2, maxIter = 4).as[(Long, Int)].collect().toMap
    assert(local == dist)
  }

  test("samplesSquared (O(n·k) scale path) matches brute-force squared silhouette") {
    val pts = Seq(
      (1L, 0.0, 0.0, 0), (2L, 1.0, 0.5, 0), (3L, 0.4, 0.1, 0),
      (4L, 10.0, 10.0, 1), (5L, 12.0, 10.0, 1), (6L, 11.0, 12.0, 1),
      (7L, -5.0, 8.0, 2) // singleton → s = 0
    )
    val got = graft.ml.Silhouette.samplesSquared(
        pts.toDF("series_id", "x", "y", "cluster"))
      .as[(Long, Int, Option[Double], Option[Double], Double)]
      .collect().map(r => r._1 -> r).toMap
    def d2(a: (Long, Double, Double, Int), b: (Long, Double, Double, Int)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3; dx * dx + dy * dy
    }
    pts.foreach { p =>
      val own = pts.filter(q => q._4 == p._4 && q._1 != p._1)
      val expA = if (own.isEmpty) None else Some(own.map(d2(p, _)).sum / own.length)
      val others = pts.filter(_._4 != p._4).groupBy(_._4)
        .map { case (_, qs) => qs.map(d2(p, _)).sum / qs.length }
      val expB = if (others.isEmpty) None else Some(others.min)
      val (_, _, a, b, s) = got(p._1)
      (expA, a) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"a for ${p._1}")
        case (ea, ga) => assert(ea.isEmpty == ga.isEmpty, s"a presence for ${p._1}")
      }
      (expB, b) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"b for ${p._1}")
        case (eb, gb) => assert(eb.isEmpty == gb.isEmpty, s"b presence for ${p._1}")
      }
      val expS = (expA, expB) match {
        case (Some(ea), Some(eb)) => (eb - ea) / math.max(ea, eb)
        case _ => 0.0
      }
      assert(math.abs(s - expS) < 1e-9, s"s for ${p._1}")
    }
  }

  test("FFT cross-correlation matches the direct form at every shift") {
    // lengths straddling the FFT switchover, non-power-of-2 included
    for (m <- Seq(5, 64, 127, 128, 200, 256)) {
      val x = (0 until m).map(t => math.sin(0.37 * t) + 0.1 * ((t * 13) % 7)).toArray
      val y = (0 until m).map(t => math.cos(0.23 * t) - 0.05 * ((t * 7) % 5)).toArray
      val d = KShape.ccDirect(x, y)
      val f = KShape.ccFft(x, y)
      d.indices.foreach { i =>
        assert(math.abs(d(i) - f(i)) < 1e-8, s"m=$m shift-index $i: ${d(i)} vs ${f(i)}")
      }
    }
  }

  test("SBD is shift-invariant and bounded (C3 core property)") {
    val x = (0 until 64).map(t => math.sin(2 * math.Pi * t / 16.0)).toArray
    val shifted = x.drop(2) ++ x.take(2) // small circular shift
    assert(KShape.sbd(x, x) < 1e-9)
    // zero-padded (non-circular) alignment loses shift/L of the energy,
    // so the SBD floor for a shifted copy is ≈ shift/L = 2/64
    assert(KShape.sbd(KShape.znorm(x), KShape.znorm(shifted)) < 0.05)
    val y = (0 until 64).map(_ => 1.0).toArray
    val d = KShape.sbd(KShape.znorm(x), KShape.znorm(y))
    assert(d >= 0.0 && d <= 2.0)
  }

  test("golden pipeline: pad → PCA → silhouette-k → KMeans → representatives recovers blobs") {
    // SURVEY.md §5.3: the flagship chain on a deterministic fixture with
    // pinned structure — one representative from each shape blob.
    // equal-length fixture: zero-pad tails are themselves discriminative
    // shape features (PCA finds sub-blobs — verified), so the golden
    // chain runs on aligned data; pad raggedness is property-tested in
    // SeriesOpsSpec
    val padded = graft.ops.SeriesOps.pad(twoBlobs)
    val emb = Embedding.pca2d(padded).cache()
    val k = Clustering.silhouetteScan(emb, 6).head().getInt(0)
    assert(k == 2)
    val assigned = Clustering.kmeans(emb, k, seed = 10)
    val reps = TraceBack.centroidRepresentatives(assigned)
      .select("rep_id").as[Long].collect().toSet
    assert(reps.size == 2)
    assert(reps.exists(_ < 20) && reps.exists(_ >= 20)) // one per blob
  }

  test("landmark MDS (distributed path) matches exact driver MDS when landmarks = all") {
    // gate=0 forces the landmark path; with numLandmarks ≥ n the
    // triangulation provably reproduces classical MDS — so the two
    // paths must agree up to eigensolver tolerance
    val exact = Embedding.mds2d(twoBlobs)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val lmds = Embedding.mds2d(twoBlobs, gate = 0, numLandmarks = 100)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(exact.keySet == lmds.keySet)
    exact.foreach { case (id, (x, y)) =>
      val (lx, ly) = lmds(id)
      assert(math.abs(x - lx) < 1e-4 && math.abs(y - ly) < 1e-4,
        s"series $id: exact ($x,$y) vs landmark ($lx,$ly)")
    }
  }

  test("landmark MDS with m << n still separates the two shape blobs") {
    val out = Embedding.mds2d(twoBlobs, gate = 0, numLandmarks = 10)
      .as[(Long, Double, Double)].collect()
    // blob members must be mutually closer than cross-blob pairs on x
    val a = out.filter(_._1 < 20).map(_._2)
    val b = out.filter(_._1 >= 20).map(_._2)
    val sep = math.abs(a.sum / a.length - b.sum / b.length)
    val spread = math.max(a.max - a.min, b.max - b.min)
    assert(sep > spread, s"blobs not separated: sep=$sep spread=$spread")
  }

  test("K-Shape groups phase-shifted copies that raw-value KMeans would split (C3)") {
    val base1 = (0 until 64).map(t => math.sin(2 * math.Pi * t / 16.0)).toArray
    val base2 = (0 until 64).map(t => (t % 32) / 16.0 - 1.0).toArray // sawtooth
    val rows = (0 until 8).map { i =>
      val shift = (i % 4) * 5
      val src = if (i < 4) base1 else base2
      (i.toLong, src.drop(shift) ++ src.take(shift))
    }
    val out = KShape.fit(rows.toDF("series_id", "values"), 2, maxIter = 8)
      .as[(Long, Int)].collect().toMap
    val g1 = (0L until 4L).map(out).toSet
    val g2 = (4L until 8L).map(out).toSet
    assert(g1.size == 1 && g2.size == 1 && g1 != g2)
  }
}
