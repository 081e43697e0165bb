package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Parquet is self-describing; Catalyst prunes columns + pushes filters
  * into these scans, so every query should start here, not from a cache.
  */
object Tables {
  /** `dir/name.parquet`, read with the schema Spark inferred for it
    * once. Inference is a Spark job (about 0.15 s warm on 4 vCPUs); a
    * read with the schema given runs none. Every such read of a table
    * has the same logical plan, so Memo keys over it keep hitting, and
    * analyzed it is the same relation as a plain read.
    *
    * The schema is a `Memo.value` keyed by the path, every leaf file's
    * (path, length, modification time) as the path's Hadoop
    * `FileSystem` lists them, and the session's confs: a rewritten file,
    * or a conf that steers inference (`events` sets
    * `spark.sql.legacy.parquet.nanosAsLong`), re-infers it, so no key
    * serves a stale schema. A path that cannot be listed is read as
    * before and fails with Spark's own error. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    leafFiles(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val confs = spark.conf.getAll.toSeq.sorted
        val schema = graft.queries.Memo.value(spark, "schema", Nil, path, files, confs)(
          spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  /** (path, length, modification time) of every file under `path`,
    * sorted; None when the path cannot be listed. */
  private def leafFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.IOException => None }

  /** `events.ts` appears in two driver testdata generations: parquet
    * TIMESTAMP(NANOS) (Spark 4 only maps it via the nanos-as-long
    * legacy conf → LongType nanos) and plain TIMESTAMP(MICROS) without
    * UTC adjustment (→ TIMESTAMP_NTZ). Normalize both to a microsecond
    * TimestampType column — the same wall-clock instants DuckDB sees
    * (session TZ is pinned to UTC everywhere), sub-micro digits
    * truncated in the nanos generation. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Scratch artifact dir under java.io.tmpdir: stable WITHIN a JVM
    * (repeat bench/verify runs reuse + overwrite the same path, no
    * per-invocation leak) but distinct ACROSS processes — two
    * concurrent JVMs benching the same dataset must not race on
    * mode-overwrite writes against concurrent reads of one path
    * (ADVICE r10). Key by md5(data key) + pid. Because the pid makes
    * each process's dirs unique, a shutdown hook deletes every dir
    * this helper handed out — without it, repeated rounds on a
    * long-lived box would grow /tmp without bound (the leak the old
    * cross-process-stable scheme avoided by reuse). */
  private val scratchIssued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
    f.delete(); ()
  }
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratchIssued.forEach(p => rmTree(new java.io.File(p)))))

  /** Register a path for recursive deletion at JVM exit — the one
    * shared cleanup tracker (scratchDir and the test suite's tempDir
    * both route here, so a deletion-logic fix lands once). */
  private[graft] def trackForCleanup(path: String): Unit = {
    scratchHook
    scratchIssued.add(path)
    ()
  }

  /** Best-effort reaping of a DEAD process's scratch dirs: the
    * shutdown hook cannot run on OOM-kill/SIGKILL, and pid-unique
    * paths are never reused, so each issue scans its own
    * `graft_<tag>_<hash>_p*` siblings and deletes those whose owner is
    * no longer alive — orphans survive at most until the next run of
    * the same (tag, key). The pid alone is not a sufficient identity:
    * a dead owner's pid can be RECYCLED by an unrelated live process
    * (ADVICE r11), making the orphan look owned forever — so the dir
    * name also carries the owner JVM's START-TIME (`p<pid>t<epochMs>`,
    * the boot-time token ADVICE suggested): the owner counts as alive
    * only when a live process has BOTH that pid and that start
    * instant, which a recycled pid cannot (start times are strictly
    * later). An age gate would be wrong here — a long-lived session
    * can legitimately keep serving Memo'd plans over a >24h-cold dir
    * (review r12) — so it applies ONLY to legacy token-less names,
    * where recycled-pid orphans are otherwise undetectable. */
  private[graft] def reapDead(dir: java.io.File, prefix: String): Unit = {
    val staleMs = 24L * 3600 * 1000
    val self = ProcessHandle.current().pid()
    val selfStart = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(-1L)
    val kids = dir.listFiles()
    if (kids != null) kids.foreach { f =>
      val n = f.getName
      if (n.startsWith(prefix)) {
        val (pid, startMs) = n.substring(prefix.length).split('t') match {
          case Array(p, t) => (p.toLongOption, t.toLongOption)
          case Array(p)    => (p.toLongOption, None)
          case _           => (None, None)
        }
        // "self" is pid AND (for tokened names) start-instant: a dir
        // left by a dead process whose pid WE recycled is not ours
        val isSelf = pid.contains(self) &&
          startMs.forall(t => selfStart == -1L || t == selfStart)
        val aged = System.currentTimeMillis() - f.lastModified() > staleMs
        val reap = (pid, startMs) match {
          case (Some(p), Some(t)) => // tokened: exact owner identity
            ProcessHandle.of(p).map[Boolean] { h =>
              // unreadable start instant (ADVICE r12 + round-13
              // review): the bare pid is NOT proof of ownership — a
              // recycled pid on a JVM that can't read start times
              // would shield the orphan forever — but age-reaping a
              // LIVE owner is worse. Fall back to the 24h age gate
              // ONLY when our own start instant is also unreadable
              // (the whole runtime lacks the API, ADVICE's scenario);
              // if we can read instants and just can't see this
              // process's (cross-UID visibility), assume a live
              // matching owner and keep the dir.
              h.info().startInstant()
                .map[Boolean](si => si.toEpochMilli != t)
                .orElse(selfStart == -1L && aged)
            }.orElse(true) // pid gone → owner dead
          case (Some(p), None) => // legacy pid-only name: dead pid, or
            // aged (the recycled-pid fallback — undetectable otherwise)
            !ProcessHandle.of(p).isPresent || aged
          case _ => aged // unparseable: age only
        }
        if (!isSelf && reap) rmTree(f)
      }
    }
  }
  def scratchDir(tag: String, key: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    try reapDead(tmp, s"graft_${tag}_${h}_p")
    catch { case _: Throwable => () } // reaping is best-effort, never fatal
    // p<pid>t<startMs>: the start-time token makes the owner identity
    // exact under pid recycling (see reapDead). Missing start instant
    // (exotic JVMs) falls back to the legacy pid-only name.
    val me = ProcessHandle.current()
    val tok = me.info().startInstant()
      .map[String](si => s"t${si.toEpochMilli}").orElse("")
    val p = new java.io.File(tmp,
      s"graft_${tag}_${h}_p${me.pid()}$tok").toString
    trackForCleanup(p)
    p
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
