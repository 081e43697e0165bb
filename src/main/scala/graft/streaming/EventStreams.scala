package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.10 + §7.2 P6 [EXT]).
  *
  * The reference has no stream processing; its sliding window (W3,
  * app.py:285-295) is the natural seed for event-time windows. These
  * are the streaming-ready forms: the batch queries
  * `evt_tumbling_window`/`evt_sliding_window` share the exact same
  * `window()` semantics, so batch outputs are the oracle for the
  * streaming path (verified in StreamingSpec).
  *
  * Scale notes: watermark + windowed agg is incremental state, keyed
  * by (window, type) — state size is bounded by watermark horizon, not
  * stream length. Sessionization state is per-user and evicted on
  * event-time timeout.
  */
object EventStreams {

  /** Parquet schema for streaming reads of the driver's events table,
    * parameterized on the ts physical type: the driver testdata has
    * shipped both TIMESTAMP(NANOS) (nanos-as-long conf → LongType) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (→ TIMESTAMP_NTZ).
    */
  private def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Stream the events table from an sf directory (the streaming file
    * source requires a directory; the glob picks the events parquet).
    * The streaming source needs an explicit schema, so the ts physical
    * type is probed from the batch table's schema, which `Tables.load`
    * infers once per file and conf set; both generations normalize to
    * micros TimestampType (session TZ is UTC, so the NTZ cast is
    * value-preserving). */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables.load(spark, sfDir, "events").schema("ts").dataType
    val raw = spark.readStream.schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling event-time counts per type, append-mode capable. */
  def tumblingCounts(events: DataFrame, watermark: String, width: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding event-time window aggregate. */
  def slidingCounts(events: DataFrame, watermark: String,
      width: String, slide: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("wstart"), col("n"), col("sum_v"))

  /** Built-in session windows per user (gap-based). */
  def sessionCounts(events: DataFrame, watermark: String, gap: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"))

  /** Streaming exact dedup on a key, state bounded by the watermark
    * horizon (dropDuplicatesWithinWatermark): the streaming twin of
    * the batch `dedup_exact` hash-groupBy — late re-sends of an
    * already-seen key inside the watermark are dropped, and state for
    * keys older than the watermark is evicted, so memory is
    * O(keys per horizon), not O(stream). */
  def dedupEvents(events: DataFrame, watermark: String, keyCols: String*): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Stream-stream event-time interval join: each click joined to the
    * same user's purchases within (click_ts, click_ts + bound]. Both
    * sides carry watermarks and the join condition bounds event time in
    * BOTH directions, so Spark can size the join state buffer and evict
    * rows older than the watermark + bound — the state stays
    * O(events per horizon), not O(stream). The batch twin
    * (evt_interval_join) is the oracle; StreamingSpec asserts the
    * streaming result equals it exactly. */
  def clickPurchaseIntervalJoin(events: DataFrame, watermark: String,
      boundSeconds: Int): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      expr(s"c_user = p_user AND p_ts > c_ts " +
        s"AND p_ts <= c_ts + interval $boundSeconds seconds"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_s"))
  }

  /** Streaming incremental exact dedup via foreachBatch — the
    * daily-crawl loop as a stream: each micro-batch of documents is
    * deduplicated (canonical fingerprint) against itself (earlier =
    * smaller id wins) and against the ACCUMULATED corpus of previously
    * kept docs, keep/drop decisions land in `decisionsDir`, and kept
    * docs append to the corpus at `corpusDir` — so a doc that dups
    * anything kept in ANY earlier micro-batch is dropped.
    *
    * foreachBatch is the right tool (not a stream-stream join): the
    * corpus side is a growing TABLE, not a stream with a watermark,
    * and each batch's decisions must see all previous batches'
    * outcomes. foreachBatch's contract is at-least-once per epoch, so
    * the epoch body is IDEMPOTENT rather than assumed-exactly-once:
    * both dirs are partitioned by batch_id and written with dynamic
    * partition OVERWRITE, and the probe corpus is restricted to
    * strictly-earlier batch partitions — a replayed epoch (failure
    * after one write committed but before the checkpoint did) never
    * sees its own partial output, recomputes identical decisions, and
    * overwrites its own partitions instead of appending contradictory
    * duplicate rows. [[dedupEpoch]] is that body, factored out so the
    * replay property is testable directly.
    *
    * The corpus probe reuses [[graft.ext.Dedup.bloomIncrementalExact]]:
    * at 100 TB the corpus appears as its Bloom + fingerprint table,
    * and definite-new batch docs never join. Start the returned
    * writer with `.start()`/`.trigger(...)` as usual. */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
      corpusDir: String, decisionsDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        dedupEpoch(batch, batchId, idCol, textCol, corpusDir, decisionsDir)
    }

  /** One idempotent dedup epoch (the foreachBatch body): running it
    * twice with the same (batch, batchId) leaves both dirs exactly as
    * one run would. */
  private[graft] def dedupEpoch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      corpusDir: String, decisionsDir: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    // intra-batch: first occurrence (smallest id) of a fingerprint wins
    val fp = graft.ext.TextOps.fingerprint(batch, idCol, textCol)
    val intra = batch.join(fp, idCol)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
    val intraKept = intra.filter(col("__rk") === 1).drop("__rk", "fp")
    // inter-batch: probe the accumulated corpus (bootstrap = empty).
    // Only strictly-earlier partitions: a replayed epoch must not see
    // its own (possibly partial) append as "corpus".
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bootstrap on "has at least one batch PARTITION", not bare
    // dir-exists: an empty epoch's dynamic-overwrite write can leave a
    // corpus dir holding only _SUCCESS, and a bare-parquet read of
    // that fails schema inference on every later epoch
    val hasCorpus = fs.exists(new org.apache.hadoop.fs.Path(corpusDir)) &&
      fs.globStatus(new org.apache.hadoop.fs.Path(corpusDir, "batch_id=*")).nonEmpty
    val corpusPrior =
      if (!hasCorpus) None
      else Some(spark.read.parquet(corpusDir)
        .filter(col("batch_id") < batchId)) // partition-pruned scan
    val decided = corpusPrior match {
      case None =>
        intraKept.select(col(idCol), lit(false).as("is_dup"), lit(true).as("keep"))
      case Some(corpus) => graft.ext.Dedup.bloomIncrementalExact(
        corpus, intraKept, idCol, textCol,
        expectedItems = 1000000L, fpp = 0.01)
    }
    val all = batch.select(col(idCol))
      .join(decided, Seq(idCol), "left")
      .select(col(idCol), lit(batchId).as("batch_id"),
        coalesce(col("keep"), lit(false)).as("keep"),
        when(col("keep").isNull, lit("intra_batch_dup"))
          .when(!col("keep"), lit("corpus_dup"))
          .otherwise(lit("new")).as("reason"))
      .localCheckpoint() // decide BEFORE the corpus write below mutates the input
    all.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(decisionsDir)
    batch.join(all.filter(col("keep")).select(col(idCol)), idCol)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(corpusDir)
    ()
  }

  /** Streaming URL-level dedup via foreachBatch — the crawl-frontier
    * loop: each micro-batch of (id, url) rows is canonicalized
    * ([[graft.ext.TextOps.canonicalUrlCol]]), deduplicated against
    * itself (min id per canonical key wins) and against the
    * accumulated corpus of previously KEPT canonical URLs, so a page
    * refetched under any syntactic variant in any later crawl is
    * dropped before its body is ever fetched/stored. Same
    * idempotent-epoch discipline as [[incrementalDedupSink]]: both
    * dirs are partitioned by batch_id with dynamic partition
    * overwrite, and the probe reads strictly-earlier partitions only.
    * The corpus table stores just (id, canon_url, batch_id) —
    * key-sized, not page-sized — so at crawl scale the probe is a join
    * against a canonical-key table, prunable by partition. */
  def incrementalUrlDedupSink(docs: DataFrame, idCol: String, urlCol: String,
      corpusDir: String, decisionsDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        urlDedupEpoch(batch, batchId, idCol, urlCol, corpusDir, decisionsDir)
    }

  /** One idempotent URL-dedup epoch (the foreachBatch body): running
    * it twice with the same (batch, batchId) leaves both dirs exactly
    * as one run would. */
  private[graft] def urlDedupEpoch(batch: DataFrame, batchId: Long,
      idCol: String, urlCol: String,
      corpusDir: String, decisionsDir: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val withCanon = batch.withColumn("__canon",
      graft.ext.TextOps.canonicalUrlCol(col(urlCol)))
    val intra = withCanon.withColumn("__rk", row_number().over(
      Window.partitionBy(col("__canon")).orderBy(col(idCol))))
    val intraKept = intra.filter(col("__rk") === 1).drop("__rk")
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same partition-presence bootstrap as dedupEpoch: an empty epoch
    // must not leave a schema-less corpus dir that kills later reads
    val hasCorpus = fs.exists(new org.apache.hadoop.fs.Path(corpusDir)) &&
      fs.globStatus(new org.apache.hadoop.fs.Path(corpusDir, "batch_id=*")).nonEmpty
    val decided =
      if (!hasCorpus)
        intraKept.select(col(idCol), col("__canon"), lit(true).as("keep"))
      else {
        val prior = spark.read.parquet(corpusDir)
          .filter(col("batch_id") < batchId) // partition-pruned scan
          .select(col("canon_url").as("__canon")).distinct()
        intraKept.join(prior.withColumn("__dup", lit(true)), Seq("__canon"), "left")
          .select(col(idCol), col("__canon"), col("__dup").isNull.as("keep"))
      }
    val all = withCanon.select(col(idCol), col("__canon"))
      .join(decided.select(col(idCol), col("keep")), Seq(idCol), "left")
      .select(col(idCol), col("__canon").as("canon_url"),
        lit(batchId).as("batch_id"),
        coalesce(col("keep"), lit(false)).as("keep"),
        when(col("keep").isNull, lit("intra_batch_dup"))
          .when(!col("keep"), lit("corpus_dup"))
          .otherwise(lit("new")).as("reason"))
      .localCheckpoint() // decide BEFORE the corpus write mutates the input
    all.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(decisionsDir)
    all.filter(col("keep"))
      .select(col(idCol), col("canon_url"), col("batch_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(corpusDir)
    ()
  }

  /** The STREAMING twin of the batch refresh pipeline
    * (`pipeline_refresh`): snapshot-diff → URL dedup → quality gate →
    * packed-boundary artifact, run incrementally as idempotent
    * foreachBatch epochs so a crawl refresh can land shard-by-shard
    * instead of waiting for the whole snapshot.
    *
    * Per epoch: (1) DIFF the micro-batch against the STATIC old-corpus
    * fingerprint table (`oldFingerprints` = TextOps.fingerprint of the
    * standing corpus) — only added/changed docs continue; (2) URL-dedup
    * intra-epoch (min id per canonical URL) and against the canonical
    * URLs kept by all EARLIER epochs (`urlStateDir`); (3) gate at
    * `qualityCutoff` (stopword_ratio ≥ cutoff) — a FIXED pre-calibrated
    * bar, because an epoch's own p10 would jitter with micro-batch
    * boundaries; production gates a refresh against the standing
    * corpus's calibrated bar, which the caller computes once with
    * TextOps.calibrateScores; (4) PACK: per-doc bin/offset boundary
    * rows whose offsets CONTINUE each bucket's running token total
    * from all earlier epochs.
    *
    * Same idempotent-epoch discipline as [[incrementalDedupSink]]:
    * both state dirs are batch_id-partitioned, written with dynamic
    * partition overwrite, and probes read strictly-earlier partitions
    * only — a replayed epoch recomputes identical rows over its own
    * partitions. When the epochs partition the snapshot in id order
    * (snapshot shards enumerated in order — the normal refresh shape),
    * the accumulated output is row-identical to the one-shot batch
    * pipeline at the same cutoff; out-of-order arrival instead defines
    * packing by arrival order (offsets still contiguous per bucket).
    * StreamingSpec proves the equivalence and the replay property. */
  def incrementalRefreshSink(newDocs: DataFrame, idCol: String,
      textCol: String, urlCol: String, oldFingerprints: DataFrame,
      qualityCutoff: Double, binTokens: Long,
      urlStateDir: String, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        refreshEpoch(batch, batchId, idCol, textCol, urlCol,
          oldFingerprints, qualityCutoff, binTokens, urlStateDir, outDir)
    }

  /** One idempotent refresh epoch (the foreachBatch body). */
  private[graft] def refreshEpoch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, urlCol: String,
      oldFingerprints: DataFrame, qualityCutoff: Double, binTokens: Long,
      urlStateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window

    // 1. DIFF vs the standing corpus: keep added (no old fingerprint)
    // and changed (fingerprint differs) docs only
    val fp = graft.ext.TextOps.fingerprint(batch, idCol, textCol)
    val delta = batch.join(fp, idCol)
      .join(oldFingerprints.select(col(idCol), col("fp").as("__ofp")),
        Seq(idCol), "left")
      .filter(col("__ofp").isNull || col("__ofp") =!= col("fp"))
      .drop("fp", "__ofp")

    // 2. URL dedup: intra-epoch min-id per canonical URL, then drop
    // anything an earlier epoch already kept
    val withCanon = delta.withColumn("__canon",
      graft.ext.TextOps.canonicalUrlCol(col(urlCol)))
    val intra = withCanon.withColumn("__rk", row_number().over(
        Window.partitionBy(col("__canon")).orderBy(col(idCol))))
      .filter(col("__rk") === 1).drop("__rk")
    val fs = new org.apache.hadoop.fs.Path(urlStateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasPartitions(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir)) &&
        fs.globStatus(new org.apache.hadoop.fs.Path(dir, "batch_id=*")).nonEmpty
    val urlKept = {
      val k =
        if (!hasPartitions(urlStateDir)) intra
        else {
          val prior = spark.read.parquet(urlStateDir)
            .filter(col("batch_id") < batchId) // partition-pruned scan
            .select(col("canon_url").as("__canon")).distinct()
          intra.join(prior.withColumn("__dup", lit(true)), Seq("__canon"), "left")
            .filter(col("__dup").isNull).drop("__dup")
        }
      // freeze the epoch's URL decisions NOW: every later stage (and
      // the url-state write itself) derives from this frame, so no
      // lazy plan re-reads urlStateDir after this epoch writes it
      k.localCheckpoint()
    }

    // 3. quality gate at the pre-calibrated bar
    val gated = urlKept.join(
      graft.ext.TextOps.quality(
          urlKept.select(col(idCol), col(textCol)), idCol, textCol)
        .filter(col("stopword_ratio") >= qualityCutoff)
        .select(col(idCol)), idCol)

    // 4. PACK: per-bucket offsets continue from all earlier epochs'
    // totals (bucket count is tiny — broadcast the totals)
    val withTok = gated
      .select(col(idCol),
        ceil(length(col(textCol)) / 4.0).cast("long").as("n_tokens"))
      .join(graft.ext.TextOps.splitAssign(gated, idCol)
        .select(col(idCol), col("bucket")), idCol)
    val priorTotals =
      if (!hasPartitions(outDir))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("__prior",
              org.apache.spark.sql.types.LongType))))
      else spark.read.parquet(outDir)
        .filter(col("batch_id") < batchId) // partition-pruned scan
        .groupBy(col("bucket")).agg(sum(col("n_tokens")).as("__prior"))
    val wB = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rows = withTok
      .join(broadcast(priorTotals), Seq("bucket"), "left")
      .withColumn("__before", coalesce(col("__prior"), lit(0L))
        + coalesce(sum(col("n_tokens")).over(wB), lit(0L)))
      .select(col(idCol), col("bucket"), col("n_tokens"),
        floor(col("__before") / binTokens).cast("long").as("bin"),
        (col("__before") - floor(col("__before") / binTokens) * binTokens)
          .cast("long").as("off"),
        lit(batchId).as("batch_id"))
      .localCheckpoint() // freeze before the outDir overwrite below

    rows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outDir)
    urlKept.select(col(idCol), col("__canon").as("canon_url"),
        lit(batchId).as("batch_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(urlStateDir)
    ()
  }

  /** Incremental DSIR scoring epochs (the importance-resampling stage
    * of a streaming refresh, composing with [[incrementalRefreshSink]]
    * over the same snapshot feed): each micro-batch is scored against
    * a FIXED m-row importance log-ratio table — DSIR's production
    * shape: the table is [[graft.ext.TextOps.dsirRatioTable]]'s
    * offline artifact, fit ONCE on reference snapshots and
    * broadcast-stable across every epoch — and written as an
    * idempotent batch_id partition (dynamic overwrite: a replayed
    * epoch recomputes identical rows over its own partition). Scoring
    * is per-doc given the table, so the accumulated state over N
    * epochs is row-identical to the one-shot batch scorer on the
    * union, and [[dsirSelectFromState]] equals batch
    * `text_dsir_select` on the same snapshots (StreamingSpec proves
    * both). The ratio frame is frozen via localCheckpoint at sink
    * construction so epochs can never re-fit or re-read it. */
  def incrementalDsirSink(newDocs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column, ratio: DataFrame, m: Int,
      stateDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozenRatio = ratio.localCheckpoint()
    newDocs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        dsirEpoch(batch, batchId, idCol, textCol, targetPred, frozenRatio, m,
          stateDir)
    }
  }

  /** One idempotent DSIR scoring epoch (the foreachBatch body). */
  private[graft] def dsirEpoch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, targetPred: org.apache.spark.sql.Column,
      ratio: DataFrame, m: Int, stateDir: String): Unit = {
    graft.ext.TextOps.dsirScoreWith(batch, idCol, textCol, targetPred, ratio, m)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(stateDir)
  }

  /** Streaming JSONL corpus INGEST epochs — the pipeline's entry edge
    * as a stream (production shape: `readStream.text` over an arrival
    * directory of .jsonl/.jsonl.gz shards). Each micro-batch of raw
    * lines runs the SAME parsing contract as the batch reader
    * ([[graft.sources.DocSources.parseJsonlLines]] — explicit schema,
    * never inference): clean rows land partitioned by batch_id at
    * `cleanDir`, quarantined raw lines at `quarantineDir` — nothing
    * silently dropped at the door, and the quarantine stays auditable
    * per epoch. Stateless per epoch (no cross-epoch probe), so
    * idempotency is just the dynamic-partition-overwrite discipline:
    * a replayed epoch rewrites its own two partitions byte-identically
    * (StreamingSpec proves epochs == batch read and replay no-op). */
  def jsonlIngestSink(lines: DataFrame,
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      cleanDir: String, quarantineDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    lines.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        jsonlIngestEpoch(batch, batchId, schema, idCol, cleanDir, quarantineDir)
    }

  /** One idempotent ingest epoch (the foreachBatch body). */
  private[graft] def jsonlIngestEpoch(batch: DataFrame, batchId: Long,
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      cleanDir: String, quarantineDir: String): Unit = {
    val (clean, quarantined) =
      graft.sources.DocSources.parseJsonlLines(batch, schema, idCol)
    clean.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(cleanDir)
    quarantined.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(quarantineDir)
  }

  /** Embedding-integrity gate AT INGEST (streaming twin of
    * [[graft.ext.Similarity.embeddingIntegrity]]): each micro-batch of
    * vectors is audited row-by-row against a FROZEN expected
    * dimensionality and a FROZEN doc-id dimension — the same
    * frozen-parameter regime as every streaming stage here (sem-dedup
    * freezes clusters, the contamination sink freezes the eval set).
    * Per-row verdict precedence: orphan_vector (id not in the doc
    * dimension) > dim_mismatch > zero_norm (exact max-|x| == 0).
    * Clean rows land in acceptDir, offenders in quarantineDir with
    * their issue label — both idempotent batch_id partitions, so a
    * replayed epoch is a no-op and nothing enters an index unaudited.
    *
    * missing_embedding is deliberately absent: it is not decidable at
    * ingest (a document's vector may arrive in a later epoch) — it
    * stays a corpus-level audit run at epoch boundaries over the
    * accumulated accept table. Scale: the doc-id dimension is one long
    * per document; at corpus scale keep it bucketed by id so the
    * orphan probe bucket-joins with only the micro-batch shuffling
    * (the [[graft.ext.Dedup.persistBandedSignatures]]-style layout) — at
    * dimension-table scale Spark broadcasts it. */
  def embeddingAuditSink(newEmb: DataFrame, idCol: String, vecCol: String,
      docs: DataFrame, docIdCol: String, expectedDim: Int,
      acceptDir: String, quarantineDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozenDocs = docs.select(col(docIdCol).cast("long").as("__did"))
      .localCheckpoint()
    newEmb.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        embeddingAuditEpoch(batch, batchId, idCol, vecCol, frozenDocs,
          expectedDim, acceptDir, quarantineDir)
    }
  }

  /** One idempotent audit epoch (the foreachBatch body). */
  private[graft] def embeddingAuditEpoch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, frozenDocs: DataFrame, expectedDim: Int,
      acceptDir: String, quarantineDir: String): Unit = {
    val v = col(vecCol).cast("array<double>")
    val flagged = batch
      .join(frozenDocs, batch(idCol).cast("long") === frozenDocs("__did"), "left")
      .withColumn("issue",
        when(col("__did").isNull, lit("orphan_vector"))
          .when(size(v) =!= expectedDim, lit("dim_mismatch"))
          .when(array_max(transform(v, x => abs(x))) === 0.0, lit("zero_norm")))
      .drop("__did")
    flagged.filter(col("issue").isNull).drop("issue")
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(acceptDir)
    flagged.filter(col("issue").isNotNull)
      .select(col(idCol), col("issue"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(quarantineDir)
  }

  /** Deterministic top-k selection over the accumulated DSIR state:
    * (rk, idCol, is_target, log_w) — the exact output shape of batch
    * `text_dsir_select`, ties broken by id. The state is one small
    * row per doc, so the TakeOrderedAndProject top-k is the only
    * non-scan work. */
  def dsirSelectFromState(spark: SparkSession, stateDir: String,
      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = spark.read.parquet(stateDir)
      .orderBy(col("log_w").desc, col(idCol)).limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("log_w").desc, col(idCol))).cast("long"))
      .select(col("rk"), col(idCol), col("is_target"), col("log_w"))
  }

  /** Incremental embedding-space eval-DECONTAMINATION epochs (the
    * semantic-contamination audit as a streaming stage, composing with
    * [[incrementalDsirSink]] over the same snapshot feed): each
    * micro-batch of train vectors is scored against a FIXED eval set —
    * frozen via localCheckpoint at sink construction, the same
    * broadcast-stable-artifact discipline as the DSIR ratio table —
    * and written as an idempotent batch_id partition. The nearest-eval
    * argmax is per-train-vector (no cross-doc state), so the
    * accumulated epochs are row-identical to the one-shot batch
    * [[graft.ext.Similarity.evalContamination]] on the union
    * (StreamingSpec proves it, replay included). */
  def incrementalContaminationSink(newDocs: DataFrame, idCol: String,
      vecCol: String, evalSet: DataFrame, tau: Double,
      stateDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val frozenEval = evalSet.localCheckpoint()
    newDocs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        contaminationEpoch(batch, batchId, idCol, vecCol, frozenEval, tau,
          stateDir)
    }
  }

  /** One idempotent contamination-scoring epoch (the foreachBatch body). */
  private[graft] def contaminationEpoch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, evalSet: DataFrame, tau: Double,
      stateDir: String): Unit = {
    graft.ext.Similarity.evalContamination(batch, evalSet, idCol, vecCol, tau)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(stateDir)
  }

  /** Write one epoch of centroid-keyed state: an external parquet
    * table PARTITIONED by batch_id (dynamic overwrite → replaying an
    * epoch rewrites exactly its own partition, idempotently) and
    * BUCKETED by centroid_id — the probe key. This is the
    * [[graft.ext.Dedup.persistBandedSignatures]] layout applied to
    * streaming state: every downstream probe joins or filters on
    * centroid_id, so the accumulated state reads co-partitioned and
    * NEVER reshuffles — per-epoch probe cost is O(batch + touched
    * cells), not O(total state) shuffled, the difference between a
    * streaming index that survives 10k epochs at 100 TB and one that
    * re-shuffles its whole history every micro-batch (BucketingSpec
    * pins zero Exchange on the state side). First epoch creates the
    * table; later epochs insertInto under dynamic partition-overwrite
    * (bucketing is preserved: InsertIntoHadoopFsRelationCommand takes
    * the bucket spec from the catalog relation). */
  private def writeCentroidBucketedEpoch(out: DataFrame, stateTable: String,
      buckets: Int): Unit =
    writeKeyBucketedEpoch(out, stateTable, buckets, "centroid_id")

  /** [[writeCentroidBucketedEpoch]] generalized to any probe key (the
    * sketch-rollup state buckets by its source key, not a centroid). */
  private def writeKeyBucketedEpoch(out: DataFrame, stateTable: String,
      buckets: Int, keyCol: String): Unit = {
    val spark = out.sparkSession
    if (!spark.catalog.tableExists(stateTable)) {
      out.write.format("parquet").partitionBy("batch_id")
        .bucketBy(buckets, keyCol).sortBy(keyCol)
        .saveAsTable(stateTable)
    } else {
      // insertInto ignores writer-level partitionOverwriteMode (it is
      // read from SQLConf only) — set-and-restore the session conf
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try out.write.mode("overwrite").insertInto(stateTable)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Incremental IVF index INGEST (the vector-index maintenance shape
    * of a production ANN stack): each micro-batch of embeddings is
    * assigned map-side to a FROZEN coarse quantizer
    * ([[graft.ml.Ivf.fittedCenters]] — the offline artifact, nlist×dim
    * doubles in the closure; no re-fit ever happens on the stream) and
    * appended to the index state as an idempotent batch_id partition,
    * BUCKETED by centroid_id ([[writeCentroidBucketedEpoch]]) so the
    * probe's cell join reads the accumulated index co-partitioned.
    * Assignment is per-vector, so the accumulated state is
    * row-identical to assigning the union at once, and a probe over
    * the state ([[ivfTopKFromState]]) equals the batch probe with the
    * same centers (StreamingSpec proves both, replay included). */
  def incrementalIvfSink(newEmb: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]], stateTable: String,
      buckets: Int = 8, metaCols: Seq[String] = Nil): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newEmb.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        ivfEpoch(batch, batchId, idCol, vecCol, centers, stateTable,
          buckets, metaCols)
    }

  /** One idempotent index-ingest epoch (the foreachBatch body).
    * `metaCols` is the attribute SIDECAR at ingest: the named batch
    * columns land next to (vn, centroid_id) in the state row — a
    * batch-sized id-join per epoch, never a corpus-sized one — so a
    * later [[ivfFilteredTopKFromState]] can evaluate metadata
    * predicates inside the bucketed inverted-list scan (the streaming
    * twin of [[graft.ml.Ivf.filteredTopK]]'s offline sidecar). */
  private[graft] def ivfEpoch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, centers: Array[Array[Double]],
      stateTable: String, buckets: Int = 8,
      metaCols: Seq[String] = Nil): Unit = {
    val asg = graft.ml.Ivf.assignWith(batch, idCol, vecCol, centers)
    val out =
      if (metaCols.isEmpty) asg
      else asg.join(batch.select(idCol, metaCols: _*), Seq(idCol))
    writeCentroidBucketedEpoch(out.withColumn("batch_id", lit(batchId)),
      stateTable, buckets)
  }

  /** Incremental DISTINCT-COUNT rollup at ingest (the
    * [[graft.ext.TextOps.sourceVocabRollup]] rollup table as a
    * streaming stage): each micro-batch of documents folds into
    * per-(srcCol, subCol) partial HLL sketches — |cells| rows of
    * ≤64 KB sketch bytes — appended as an idempotent batch_id
    * partition BUCKETED by srcCol, the probe key. The corpus itself
    * never lands in the state: an epoch contributes only its sketch
    * bytes, so state grows with epochs × cells, not rows — the
    * fixed-memory shape that keeps "distinct vocabulary per source,
    * continuously updated" viable at 100 TB ingest rates. The probe
    * ([[hllRollupFromState]]) unions partials across (epoch, subCol)
    * per source, reading the bucketed state co-partitioned — zero
    * Exchange (StreamingSpec pins it). Estimates are
    * mergeable-by-construction, so ordered epochs, shuffled epochs,
    * and the one-shot batch sketch all agree within sketch tolerance
    * of the exact count (the batch twin `profile_hll_rollup` pins the
    * same contract). */
  def incrementalHllRollupSink(docs: DataFrame, srcCol: String,
      subCol: String, textCol: String, stateTable: String, n: Int = 3,
      lgK: Int = 16, buckets: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        hllRollupEpoch(batch, batchId, srcCol, subCol, textCol,
          stateTable, n, lgK, buckets)
    }

  /** One idempotent sketch-rollup epoch (the foreachBatch body). */
  private[graft] def hllRollupEpoch(batch: DataFrame, batchId: Long,
      srcCol: String, subCol: String, textCol: String, stateTable: String,
      n: Int = 3, lgK: Int = 16, buckets: Int = 8): Unit = {
    val out = graft.ext.TextOps
      .shinglesKeyed(batch, Seq(srcCol, subCol), textCol, n)
      .groupBy(col(srcCol), col(subCol))
      .agg(hll_sketch_agg(col("s"), lit(lgK)).as("sk"))
      .withColumn("batch_id", lit(batchId))
    writeKeyBucketedEpoch(out, stateTable, buckets, srcCol)
  }

  /** Per-source distinct estimate over the accumulated rollup state:
    * one union-merge of the partial sketches along (epoch, subCol),
    * grouped on the bucket key so the state scan feeds the aggregate
    * co-partitioned — no Exchange, per-probe cost O(epochs × cells)
    * sketch bytes regardless of how many corpus rows ever streamed
    * past. */
  def hllRollupFromState(spark: SparkSession, stateTable: String,
      srcCol: String): DataFrame =
    spark.table(stateTable).groupBy(col(srcCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))

  /** Incremental SEMANTIC dedup at ingest (the SemDeDup decision as a
    * streaming stage): each micro-batch of embeddings is assigned
    * map-side to FROZEN semantic clusters and a vector is kept iff NO
    * eps-cosine neighbor with a SMALLER id exists in its cluster —
    * among earlier intra-batch ids or any prior epoch's state. This is
    * the ONLINE keep rule (min-id wins): the batch operator's
    * keep-lowest-centroid-similarity rule needs the whole duplicate
    * group and cannot be decided at ingestion; min-id is
    * closure-free, one join per side, and deterministic. When epochs
    * arrive in id order (the refresh twin's documented regime) the
    * accumulated state is row-identical to the one-shot batch twin
    * `keep(b) = ∄ a<b co-clustered with cos ≥ eps` over the union —
    * StreamingSpec proves it, replay included. State stores kept AND
    * dropped rows (a later doc matching a dropped one must still
    * drop: the rule quantifies over all smaller-id docs). The state
    * table is bucketed by centroid_id ([[writeCentroidBucketedEpoch]])
    * — the prior-epoch probe joins on exactly that key, so the
    * accumulated state is read co-partitioned, never reshuffled. */
  def incrementalSemDedupSink(newEmb: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]], eps: Double, stateTable: String,
      buckets: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newEmb.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        semDedupEpoch(batch, batchId, idCol, vecCol, centers, eps,
          stateTable, buckets)
    }

  /** One idempotent semantic-dedup epoch (the foreachBatch body). */
  private[graft] def semDedupEpoch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, centers: Array[Array[Double]],
      eps: Double, stateTable: String, buckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    // freeze the assignment NOW: every side below (and the state write)
    // derives from it, so no lazy plan re-reads the state post-write
    val asg = graft.ml.Ivf.assignWith(batch, idCol, vecCol, centers)
      .localCheckpoint()
    val hasPrior = spark.catalog.tableExists(stateTable)
    val dupPrior =
      if (!hasPrior) asg.select(col(idCol)).limit(0)
      else {
        // cell pruning: the prior-state probe can only match rows in
        // cells the micro-batch TOUCHES. The batch's distinct cells
        // (≤ batch size, collected bounded) push down as an `isin` on
        // the bucketed state — bucket pruning skips untouched cells'
        // files, so the per-epoch read is O(state in touched cells),
        // not O(total state), on top of the already-shuffle-free join.
        // A batch touching > 4096 cells skips the filter (the join
        // confines the pairing regardless; results never change).
        val touched = asg.select(col("centroid_id")).distinct()
          .limit(4097).collect().map(_.getInt(0))
        val priorBase = spark.table(stateTable)
          .filter(col("batch_id") < batchId)
        val prior =
          if (touched.length > 4096) priorBase
          else priorBase.filter(
            col("centroid_id").isin(touched.map(Int.box): _*))
        asg.join(
          // state side: bucketed on centroid_id — filter + rename
          // preserve the bucketing, so this join reads the accumulated
          // state co-partitioned (batch_id pruning cuts the scan to
          // prior epochs; only the micro-batch side ever shuffles)
          prior.select(col(idCol).as("__pid"), col("vn").as("__pvn"),
              col("centroid_id")),
          Seq("centroid_id"))
        // a<b even across epochs: out-of-order arrivals never let a
        // LARGER prior id drop a smaller newcomer
        .filter(col("__pid") < col(idCol) &&
          call_function("array_dot", col("vn"), col("__pvn")) >= eps)
        .select(col(idCol)).distinct()
      }
    val dupIntra = asg.as("a").join(asg.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          call_function("array_dot", col("a.vn"), col("b.vn")) >= eps)
      .select(col(s"b.$idCol").as(idCol)).distinct()
    val out = asg.join(dupPrior.union(dupIntra).distinct()
        .withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("vn"), col("centroid_id"),
        col("__d").isNull.as("keep"), lit(batchId).as("batch_id"))
      .localCheckpoint() // freeze before the state overwrite below
    writeCentroidBucketedEpoch(out, stateTable, buckets)
  }

  /** Maintenance compaction for centroid-bucketed epoch state (the
    * index-maintenance half of the streaming-state story): fold every
    * partition with batch_id ≤ `upToBatch` into the single partition
    * `upToBatch`, preserving rows, bucketing, and sort order. Epoch
    * ingest leaves one batch_id directory × `buckets` files per
    * micro-batch — at 10k epochs the FILE COUNT (and per-probe
    * partition listing) becomes the bottleneck even though no probe
    * ever reshuffles; periodic compaction caps it at
    * O(uncompacted epochs × buckets). Row content is untouched, so
    * every probe (prior-state join, cell filter, keep audit) reads
    * identical data before and after — the BucketingSpec pin holds
    * across a compaction.
    *
    * CONTRACT: only compact epochs the streaming checkpoint has
    * committed PAST. foreachBatch redelivery (at-least-once) replays
    * the last uncommitted batch id; replaying an epoch ≤ `upToBatch`
    * after compaction would write its partition anew BESIDE the
    * folded copy — double-counted rows, and a sem-dedup prior probe
    * filtered to batch_id < i would no longer see the folded rows.
    * Compact up to (committed batch − 1) and the replay window never
    * intersects the folded range. The two-step rewrite
    * (stage → overwrite-from-stage) is not atomic; a concurrent probe
    * in the overwrite window should retry — the standard
    * maintenance-job discipline, documented rather than hidden. (A
    * stage-then-RENAME swap would halve the copy cost but directory
    * rename-onto-existing semantics differ across catalogs/filesystems
    * — the portable overwrite is worth the extra pass for a
    * maintenance-cadence job.) */
  def compactEpochState(spark: SparkSession, stateTable: String,
      upToBatch: Long, buckets: Int = 8): Unit = {
    val staging = stateTable + "_compact"
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.table(stateTable)
      .withColumn("batch_id",
        when(col("batch_id") <= upToBatch, lit(upToBatch))
          .otherwise(col("batch_id")))
      .write.format("parquet").partitionBy("batch_id")
      .bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .saveAsTable(staging)
    spark.table(staging)
      .write.format("parquet").partitionBy("batch_id")
      .bucketBy(buckets, "centroid_id").sortBy("centroid_id")
      .mode("overwrite").saveAsTable(stateTable)
    spark.sql(s"DROP TABLE $staging")
  }

  /** ANN search over the streaming-ingested index state: the shared
    * IVF probe tail ([[graft.ml.Ivf.probeAndRank]]) over the
    * accumulated centroid-bucketed table — identical output to the
    * batch probe over [[graft.ml.Ivf.assignWith]]-assigned state with
    * the same centers (both paths share assignWith's argmin; the
    * model-side assignment in [[graft.ml.Ivf.topK]] computes the same
    * nearest centroid through MLlib's distance path and can differ
    * only on exact ties). The state side of the probe's cell join is
    * bucketed on centroid_id, so only the (query × nprobe) side
    * shuffles — the accumulated index never does. */
  def ivfTopKFromState(spark: SparkSession, stateTable: String, idCol: String,
      centers: Array[Array[Double]], queryPred: String, k: Int,
      nprobe: Int): DataFrame =
    graft.ml.Ivf.probeAndRank(
      spark.table(stateTable).select(col(idCol), col("vn"), col("centroid_id")),
      centers, idCol, queryPred, k, nprobe)

  /** Filtered ANN serve over the STREAMED index — the streaming twin
    * of [[graft.ml.Ivf.filteredTopK]]: `corpusPred` evaluates over the
    * metadata columns the ingest's `metaCols` sidecar landed in the
    * state rows, INSIDE the bucketed, cell-pruned inverted-list scan
    * (pre-filtering — every query still surfaces k survivors).
    * Queries come from the full state via `queryPred`; scoring and
    * ranking are the shared [[graft.ml.Ivf.probeAndRank]] tail, so
    * the result is row-identical to the batch probe over the same
    * accumulated rows with the same centers and filter. */
  def ivfFilteredTopKFromState(spark: SparkSession, stateTable: String,
      idCol: String, centers: Array[Array[Double]], queryPred: String,
      corpusPred: String, k: Int, nprobe: Int): DataFrame =
    graft.ml.Ivf.probeAndRank(spark.table(stateTable),
      centers, idCol, queryPred, k, nprobe, corpusPred = corpusPred)

  /** Stream-static enrichment join: each streaming event joined to a
    * STATIC dimension snapshot (the standard dimension-enrichment
    * shape — user profile, account tier, market segment). Stateless:
    * works in append mode with no watermark, because the static side
    * is fixed per micro-batch. The dim is broadcast, so the stream
    * side never shuffles — the only viable shape when the stream is
    * the 100-TB side; a dim too big to broadcast becomes a shuffled
    * join of each micro-batch, same code. Batch twin:
    * `evt_static_enrich` (same join, oracle-checked); StreamingSpec
    * asserts streaming == batch. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, keyCol: String): DataFrame =
    events.join(broadcast(dim), Seq(keyCol), "left")

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, events: Long, sum_v: Double)

  case class CdcEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Option[Double])
  case class CdcRow(user_id: Long, last_ts_us: Long, last_event_id: Long,
      last_type: String, value: Option[Double], n_changes: Long)

  /** Streaming twin of the batch CDC merge (evt_cdc_apply): keyed
    * last-writer-wins state via mapGroupsWithState — each micro-batch
    * folds its events into the key's (ts, event_id)-max row and a
    * change counter, emitting the key's current materialized row in
    * update mode. Tombstone semantics ride along as `last_type` (the
    * consumer filters 'error' keys exactly like the batch aggregate's
    * post-filter), so a tombstone later overwritten by an upsert
    * correctly resurrects the key. The fold compares (micros,
    * event_id) pairs, so it is order-independent within and across
    * batches — StreamingSpec pins streaming == batch on a
    * split-batch fixture with ties and tombstones. */
  def cdcLastWriter(events: Dataset[CdcEv]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CdcRow, CdcRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[CdcEv], state: GroupState[CdcRow]) =>
          var cur = state.getOption.orNull
          it.foreach { e =>
            val eu = us(e.ts)
            val newer = cur == null || eu > cur.last_ts_us ||
              (eu == cur.last_ts_us && e.event_id > cur.last_event_id)
            val n = (if (cur == null) 0L else cur.n_changes) + 1L
            cur =
              if (newer) CdcRow(uid, eu, e.event_id, e.event_type, e.value, n)
              else cur.copy(n_changes = n)
          }
          state.update(cur)
          cur
      }
  }

  case class AttCredit(user_id: Long, conv_event_id: Long, channel: String,
      credit_u6: Long, credit_l6: Long)
  // parallel arrays instead of a List of tuples, and PUBLIC like the
  // other state classes: codegen'd encoders can't touch a
  // Scala-private nested class's accessors
  case class AttState(tUs: Array[Long], tEid: Array[Long],
      tCh: Array[String], mega: Boolean)

  /** Streaming twin of the batch U-shaped attribution
    * ([[graft.ops.Attribution.uShaped]] / `evt_attribution`):
    * real-time credit AT conversion time via flatMapGroupsWithState —
    * keyed per-user state holds the touches seen so far (bounded by
    * `maxTouches`, the batch tier's mega-user guard), and every
    * conversion emits its credit rows immediately (append mode:
    * credits are paid once and never revised — the operational
    * attribution contract). Summing the emitted rows per channel
    * reproduces the batch report exactly (StreamingSpec) when
    * ingestion is per-user event-time ordered; a touch arriving
    * AFTER a conversion was paid credits only later conversions —
    * the honest real-time divergence from the batch view, which sees
    * the whole log (likewise the mega guard trips when the cap is
    * CROSSED, where batch knows the final count up front). State per
    * user is <= maxTouches triples and is cleared on the mega flag. */
  def attributionAtConversion(events: Dataset[CdcEv],
      touchTypes: Set[String], convType: String,
      maxTouches: Int = 10000): Dataset[AttCredit] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def q6(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttState, AttCredit](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[CdcEv], state: GroupState[AttState]) =>
          val st = state.getOption.getOrElse(
            AttState(Array.empty, Array.empty, Array.empty, mega = false))
          var mega = st.mega
          val tUs = scala.collection.mutable.ArrayBuffer(st.tUs: _*)
          val tEid = scala.collection.mutable.ArrayBuffer(st.tEid: _*)
          val tCh = scala.collection.mutable.ArrayBuffer(st.tCh: _*)
          val out = scala.collection.mutable.ListBuffer.empty[AttCredit]
          it.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            if (touchTypes(e.event_type)) {
              if (!mega) {
                if (tUs.size >= maxTouches) { // cap crossed: free state
                  mega = true; tUs.clear(); tEid.clear(); tCh.clear()
                } else {
                  tUs += us(e.ts); tEid += e.event_id; tCh += e.event_type
                }
              }
            } else if (e.event_type == convType) {
              val cv = e.value.getOrElse(0.0)
              if (mega)
                out += AttCredit(uid, e.event_id, "(mega_user_skipped)",
                  q6(cv), q6(cv))
              else if (tUs.isEmpty)
                out += AttCredit(uid, e.event_id, "(unattributed)",
                  q6(cv), q6(cv))
              else {
                val m = tUs.size
                val idx = tUs.indices
                val fi = idx.minBy(i => (tUs(i), tEid(i)))
                val la = idx.maxBy(i => (tUs(i), tEid(i)))
                idx.foreach { i =>
                  val share =
                    if (m == 1) 1.0
                    else if (m == 2) 0.5
                    else if (i == fi || i == la) 0.4
                    else 0.2 / (m - 2).toDouble
                  out += AttCredit(uid, e.event_id, tCh(i),
                    q6(cv * share), if (i == la) q6(cv) else 0L)
                }
              }
            }
          }
          state.update(AttState(tUs.toArray, tEid.toArray, tCh.toArray, mega))
          out.iterator
      }
  }

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count + value sum across micro-batches (update mode). */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.events
          var s = prev.sum_v
          it.foreach { e => n += 1; s += e.value }
          val next = UserRunning(uid, n, s)
          state.update(next)
          next
      }
  }
}
