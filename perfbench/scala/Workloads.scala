package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.ml.{Clustering, Dbscan, Embedding, KShape, TraceBack}
import graft.ops.{Dtw, SeriesOps}
import graft.sources.CsvSeries

/** Input sizes, recorded in every result. */
final case class InputSize(items: Long, rows: Long, bytes: Long)

/** Seeded input generators over the fixture in `perfbench/fixture`, an
  * extract of the repository's sf0.01 test tables (README.md). The
  * content is the fixture's; the workload seed decides row order, the
  * replicas' jitter and the re-request sample, so every seed runs the
  * same work. */
object Inputs {
  private def round2(v: Double): Double = math.rint(v * 100) / 100

  /** The fixture's `event_id,user_id,value` rows, without the header. */
  def eventRows(fixture: File): Seq[String] = {
    val src = scala.io.Source.fromFile(new File(fixture, "events.csv"), "UTF-8")
    try src.getLines().drop(1).toVector finally src.close()
  }

  /** The fixture's series: user_id → values in event_id order. */
  def series(fixture: File): Seq[Array[Double]] =
    eventRows(fixture).map(_.split(','))
      .map(f => (f(1).toLong, f(0).toLong, f(2).toDouble))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** The `events` upload: the fixture's long-format CSV in a seed-shuffled
    * row order. */
  def writeCsv(file: File, seed: Long, fixture: File): InputSize = {
    val rows = eventRows(fixture)
    val shuffled = new scala.util.Random(seed).shuffle(rows)
    file.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(file))
    try {
      w.write("event_id,user_id,value\n")
      shuffled.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
    InputSize(rows.map(_.split(',')(1)).distinct.size, rows.size, file.length())
  }

  /** The `matrix_scaled` table: `replicas` copies of each fixture series,
    * each value jittered by a seeded gaussian of 1% of its series' range,
    * written as parquet by Spark. Copy `id` of base series `id / replicas`
    * is keyed `user_id = id`; `event_id` increases with position. */
  def writeReplicas(spark: SparkSession, dir: File, seed: Long, fixture: File,
      replicas: Int): InputSize = {
    import spark.implicits._
    val base = series(fixture)
    val n = base.size.toLong * replicas
    spark.range(0, n, 1, 8).flatMap { id =>
      val s = base((id / replicas).toInt)
      val jitter = 0.01 * (s.max - s.min)
      val r = new java.util.Random(seed * 7919L + id)
      s.indices.map(i => (id * 256 + i, id, round2(s(i) + jitter * r.nextGaussian())))
    }.toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(new File(dir, "events.parquet").getPath)
    InputSize(n, base.map(_.length.toLong).sum * replicas, dirBytes(dir))
  }

  /** The `curation_session` corpus: the fixture's `documents` and
    * `embeddings` tables, rewritten in a seed-shuffled row order. */
  def writeCorpus(spark: SparkSession, dir: File, seed: Long, fixture: File): InputSize = {
    val order = new scala.util.Random(seed)
    val rows = Seq("documents", "embeddings").map { t =>
      val df = spark.read.parquet(new File(fixture, s"$t.parquet").getPath)
      val shuffled = order.shuffle(df.collect().toSeq)
      spark.createDataFrame(java.util.Arrays.asList(shuffled: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$t.parquet").getPath)
      shuffled.size.toLong
    }
    InputSize(rows.sum, rows.sum, dirBytes(dir))
  }
}

/** Which align × embed × cluster combinations a pass runs, which of
  * them it traces back, and which it re-issues after the last clusterer
  * on their embedding ("swap back"), so that its labels and trace-back
  * digests are compared within the pass. */
final case class Matrix(combos: Seq[(String, String, String)], eps: Double,
    traceBack: String => Boolean, again: Set[String])

object Matrix {
  val Aligns = Seq("truncate", "pad", "window", "dtw")
  val Embeds = Seq("pca", "mds", "ae")
  val Clusterers = Seq("kmeans", "kshape", "dbscan")
  val All = for (a <- Aligns; e <- Embeds; c <- Clusterers) yield (a, e, c)

  /** The paper's 36 combinations, every one traced back; pad/pca/kmeans
    * is re-issued. */
  val Full = Matrix(All, 0.8, _ => true, Set("pad/pca/kmeans"))

  /** Eight of the 36 combinations: pad and DTW, each embedded all three
    * ways, each embedding clustered by the clusterer (align + embedding)
    * mod 3, so both aligns meet every clusterer; plus the two "swap the
    * clusterer" re-runs on pad/pca, whose three results are traced back,
    * and a swap back to pad/pca/kmeans. */
  val Pairwise = {
    val aligns = Seq("pad", "dtw")
    Matrix(All.filter { case (a, e, c) =>
      aligns.contains(a) &&
        (Clusterers.indexOf(c) == (aligns.indexOf(a) + Embeds.indexOf(e)) % 3 || (a == "pad" && e == "pca"))
    }, 0.8, _.startsWith("pad/pca/"), Set("pad/pca/kmeans"))
  }

  /** Ingest: the loaded long table → min-max normalized series, constant
    * series dropped (their min-max image is undefined). */
  def ingest(long: DataFrame): DataFrame =
    SeriesOps.collectSeries(SeriesOps.withNormalized(long, "value"), "user_id", "min_max", "event_id")
      .filter(array_max(col("values")) > array_min(col("values")))

  def align(base: DataFrame, name: String): DataFrame = name match {
    case "truncate" => SeriesOps.truncate(base)
    case "pad" => SeriesOps.pad(base)
    case "window" =>
      val minLen = base.select(min(size(col("values")))).head().getInt(0)
      val w = math.max(4, minLen / 2)
      // windows re-keyed parent·1000 + win_id, as in GoldenSpec
      SeriesOps.slidingWindow(base, w, w)
        .select((col("series_id").cast("long") * 1000 + col("win_id")).as("series_id"),
          col("window").as("values"))
        .filter(array_max(col("values")) > array_min(col("values")))
    case "dtw" => dtw(base)
  }

  /** DTW alignment: every series stretched onto the longest one. */
  def dtw(base: DataFrame): DataFrame = {
    val longest = base.withColumn("__n", size(col("values")))
      .orderBy(desc("__n"), asc("series_id"))
      .head().getAs[Seq[Double]]("values").toArray
    val stretch = udf((v: Seq[Double]) => Dtw.stretch(v.toArray, longest))
    base.select(col("series_id"), stretch(col("values")).as("values"))
  }

  def embed(aligned: DataFrame, name: String): DataFrame = name match {
    case "pca" => Embedding.pca2d(aligned)
    case "mds" => Embedding.mds2d(aligned)
    case "ae" => Embedding.aeEmbed(aligned, "gaf", 8)
  }

  def zscale(emb: DataFrame): DataFrame = {
    val r = emb.agg(avg("x"), stddev_pop("x"), avg("y"), stddev_pop("y")).head()
    val (mx, sx, my, sy) = (r.getDouble(0), math.max(r.getDouble(1), 1e-12),
      r.getDouble(2), math.max(r.getDouble(3), 1e-12))
    emb.select(col("series_id"), ((col("x") - mx) / sx).as("x"), ((col("y") - my) / sy).as("y"))
  }

  def cluster(aligned: DataFrame, emb: DataFrame, name: String, eps: Double): DataFrame = name match {
    case "kmeans" => Clustering.kmeans(emb, 3)
    case "kshape" => KShape.fit(aligned, 3)
    case "dbscan" => Dbscan.run(zscale(emb), eps, 3)
  }

  private def ids(df: DataFrame): Array[Long] =
    df.select(col("series_id").cast("long")).collect().map(_.getLong(0))

  /** One pass. `onLabels` sees every combination's labels (the golden
    * self-test uses it). Returns nothing: results land in the runner. */
  def pass(r: Runner, load: () => DataFrame, m: Matrix,
      onLabels: (String, Map[Long, Long]) => Unit = (_, _) => ()): Unit = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    try r.op("ingest", "ingest")(r.sink(ingest(load()).cache())).foreach { base =>
      held += base
      r.check("ingest") { r.agree("ingest", Digest.ofLines(ids(base).sorted.map(_.toString))) }
      for (an <- m.combos.map(_._1).distinct) {
        r.op(if (an == "dtw") "dtw" else "align", an)(r.sink(align(base, an).cache())).foreach { al =>
          held += al
          var alignIds = Set.empty[Long]
          r.check(s"$an:rows") {
            val got = al.select(col("series_id").cast("long"), col("values")).collect()
              .map(x => x.getLong(0) -> x.getSeq[Double](1).mkString(" ")).sortBy(_._1)
            alignIds = got.map(_._1).toSet
            r.require(alignIds.size == got.length, s"$an: duplicate series ids")
            r.agree(s"$an:rows", Digest.ofLines(got.map(x => s"${x._1}:${x._2}")))
          }
          val embeds = m.combos.filter(_._1 == an).map(_._2).distinct
          for (en <- embeds) r.op(s"embed.$en", s"$an/$en")(r.sink(embed(al, en).cache())).foreach { emb =>
            held += emb
            var pts = Map.empty[Long, (Double, Double)]
            r.check(s"$an/$en:points") {
              pts = emb.select(col("series_id").cast("long"), col("x"), col("y")).collect()
                .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
              r.require(pts.keySet == alignIds, s"$an/$en: embedding does not cover the aligned series")
              r.agree(s"$an/$en:points", Digest.ofLines(pts.toSeq.sortBy(_._1).map(_.toString)))
            }
            val clusterers = m.combos.filter(c => c._1 == an && c._2 == en).map(_._3)
            for (cn <- clusterers ++ clusterers.filter(c => m.again(s"$an/$en/$c"))) {
              val combo = s"$an/$en/$cn"
              r.op(s"cluster.$cn", combo)(r.sink(cluster(al, emb, cn, m.eps))).foreach { lab =>
                var labels = Map.empty[Long, Long]
                r.check(s"$combo:labels") {
                  val rows = lab.select(col("series_id").cast("long"), col("cluster").cast("long"))
                    .collect().map(x => x.getLong(0) -> x.getLong(1))
                  labels = rows.toMap
                  r.require(labels.size == rows.length, s"$combo: a series is labelled twice")
                  r.require(labels.keySet == alignIds,
                    s"$combo: labels cover ${labels.size} of ${alignIds.size} series")
                  r.agree(s"$combo:labels", Digest.ofLines(rows.sorted.map(x => s"${x._1},${x._2}")))
                  onLabels(combo, labels)
                }
                val assigned =
                  if (lab.columns.contains("x")) lab.select("series_id", "x", "y", "cluster")
                  else emb.join(lab.select("series_id", "cluster"), "series_id")
                if (m.traceBack(combo)) r.op("traceback", s"$combo/representatives")(
                  r.sink(TraceBack.representativeSeries(assigned, al))).foreach { reps =>
                  r.check(s"$combo:representatives") {
                    val got = reps.select(col("cluster").cast("long"), col("rep_id").cast("long"))
                      .collect().map(x => x.getLong(0) -> x.getLong(1))
                    checkRepresentatives(r, combo, got, labels, pts)
                    r.agree(s"$combo:representatives", Digest.ofLines(got.sorted.map(_.toString)))
                  }
                }
                if (m.traceBack(combo) && cn == "dbscan")
                  r.op("traceback", s"$combo/outliers")(
                    r.sink(TraceBack.outlierSeries(assigned, al))).foreach { out =>
                    r.check(s"$combo:outliers") {
                      val got = ids(out).toSet
                      r.require(got == labels.filter(_._2 == -1L).keySet,
                        s"$combo: outlierSeries differs from the series labelled -1")
                      r.agree(s"$combo:outliers", Digest.ofLines(got.toSeq.sorted.map(_.toString)))
                    }
                  }
              }
            }
          }
        }
      }
    } finally held.foreach(_.unpersist())
  }

  /** Each representative is a member of its cluster and the argmin of
    * euclidean distance to the member mean (ties to the lowest id);
    * every non-noise cluster has exactly one. */
  private def checkRepresentatives(r: Runner, combo: String, got: Array[(Long, Long)],
      labels: Map[Long, Long], pts: Map[Long, (Double, Double)]): Unit = {
    val members = labels.toSeq.filter(_._2 != -1L).groupBy(_._2).map { case (c, m) => c -> m.map(_._1) }
    r.require(got.map(_._1).toSet == members.keySet && got.length == members.size,
      s"$combo: representatives for clusters ${got.map(_._1).sorted.mkString(",")}, " +
        s"expected ${members.keySet.toSeq.sorted.mkString(",")}")
    got.foreach { case (c, rep) =>
      val ms = members(c)
      r.require(ms.contains(rep), s"$combo: representative $rep is not in cluster $c")
      val cx = ms.map(pts(_)._1).sum / ms.size
      val cy = ms.map(pts(_)._2).sum / ms.size
      def d(i: Long) = math.hypot(pts(i)._1 - cx, pts(i)._2 - cy)
      val best = ms.map(d).min
      r.require(d(rep) <= best + 1e-9 * (1 + best),
        s"$combo: representative $rep of cluster $c is at ${d(rep)}, the nearest member at $best")
    }
  }
}

/** The LLM-data-pipeline tier as an analyst's session. */
object Curation {
  /** Every `dedup_*`/`sem_*` query plus Bench's minhash, bm25, spans,
    * coslsh, dsir, lm and bitext_ivf families, without the ground-truth
    * twins: the full analyst session (about 2.5 minutes a pass). */
  private val BenchFamilies = Seq(
    "dedup_lsh_recall", "text_dedup_yield", "dedup_edit_distance", "text_split_leakage",
    "dedup_source_matrix", "dedup_chain_audit",
    "text_quality_classifier", "text_classifier_lift", "text_tfidf", "text_bm25_topk",
    "sim_hybrid_rrf", "text_rank_metrics",
    "text_trim_spans", "dedup_span_pairs", "dedup_containment_pairs", "dedup_cosine_lsh_prod",
    "dedup_cosine_lsh", "dedup_cosine_groups", "sem_dedup",
    "text_dsir_weights", "text_dsir_select",
    "text_lm_score", "text_ppl_buckets",
    "sim_bitext_mine_ivf", "sim_bitext_mutual_ivf")
  private val GroundTruthTwins = Set("sim_bitext_mine", "sim_bitext_mutual",
    "sim_bitext_ivf_agreement", "sim_bitext_mutual_ivf_agreement")
  lazy val fullSet: Seq[String] = inRegistryOrder(
    SparkEntry.queries.keys.filter(n => !GroundTruthTwins(n) &&
      (n.startsWith("dedup_") || n.startsWith("sem_") || BenchFamilies.contains(n))).toSeq ++ BenchFamilies)

  /** Two Memo-sharing pairs: ext.Dedup (MinHash-LSH pair pass) and
    * ext.TextOps (DSIR weight frame). The first of each pair builds the
    * entry its partner and the re-request phase hit. */
  lazy val sessionSet: Seq[String] = inRegistryOrder(Seq("dedup_minhash_lsh", "dedup_groups",
    "text_dsir_weights", "text_dsir_select"))

  /** `names` in registry order, the order Bench and Verify run them. */
  private def inRegistryOrder(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    all.filter(names.contains)
  }

  /** The re-request phase: the analyst re-opens every view once, in a
    * seed-shuffled order. Every seed re-issues the same names, so the
    * pass does the same work whatever the seed. */
  def rerequests(queries: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(queries)

  /** One query: `build` is the registry function, `exec` its noop write;
    * then the Memo suite clock, exactly as Bench and Verify run it. */
  def query(r: Runner, dir: String, name: String, repeated: Boolean): Unit = {
    r.op("query.build", name)(SparkEntry.queries(name)(r.spark, dir)).foreach { df =>
      r.op("query.exec", name)(r.sink(df)).foreach { _ =>
        if (repeated) r.check(s"$name:digest")(r.agree(s"query:$name", Digest.of(df)))
      }
    }
    graft.queries.Memo.advance()
    graft.queries.Memo.releaseStale(24)
  }

  def pass(r: Runner, dir: String, names: Seq[String], again: Seq[String]): Unit = {
    // every query issued twice or more has its result digests compared
    val repeated = (names ++ again).groupBy(identity).filter(_._2.size > 1).keySet
    r.phase = "first"
    names.foreach(n => query(r, dir, n, repeated(n)))
    r.phase = "rerequest"
    again.foreach(n => query(r, dir, n, repeated = true))
    r.phase = "main"
    // the session closes: let every entry age out of the suite clock
    (0 to 24).foreach(_ => graft.queries.Memo.advance())
    graft.queries.Memo.releaseStale(24)
  }
}
