package graft

/** Pins [[Tables.reapDead]]'s owner-identity rules (review r12): the
  * start-time token makes pid recycling detectable, live owners are
  * never age-reaped, and legacy token-less names keep the old
  * dead-or-aged behavior (pure filesystem logic); and [[Tables.load]]'s
  * schema reuse: one inference per file and conf set. */
class TablesSpec extends SparkSpec {
  private val prefix = "graft_tt_abcdef123456_p"

  private def deadPid: Long = {
    var p = 999999L
    while (ProcessHandle.of(p).isPresent) p -= 1
    p
  }

  private def mk(dir: java.io.File, name: String, aged: Boolean = false): java.io.File = {
    val f = new java.io.File(dir, name)
    assert(f.mkdirs(), s"mkdirs $f")
    // a child file proves recursive deletion, not just rmdir
    val c = new java.io.File(f, "part-0000")
    assert(c.createNewFile())
    if (aged) {
      val old = System.currentTimeMillis() - 25L * 3600 * 1000
      c.setLastModified(old); f.setLastModified(old)
    }
    f
  }

  test("reapDead: tokened owner identity — self survives, recycled/dead " +
      "pids reaped, live owners never age-reaped; legacy keeps dead-or-aged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reap_spec").toFile
    Tables.trackForCleanup(dir.toString)
    val me = ProcessHandle.current()
    val myStart = me.info().startInstant()
    assume(myStart.isPresent, "start instant unreadable on this JVM")
    val myTok = myStart.get.toEpochMilli
    val dp = deadPid

    val selfOk = mk(dir, s"$prefix${me.pid()}t$myTok")
    // same pid, older token: a DEAD predecessor whose pid we recycled —
    // not ours, and its owner (by identity) is gone
    val selfRecycled = mk(dir, s"$prefix${me.pid()}t${myTok - 123456}")
    val deadTokened = mk(dir, s"$prefix${dp}t$myTok")
    val deadLegacy = mk(dir, s"$prefix$dp")
    // live non-self owner (this JVM stands in via pid 1 when present)
    val other = ProcessHandle.of(1L)
    val liveLegacyFresh = other.map[java.io.File](h => mk(dir, s"$prefix${h.pid()}"))
    // "0<pid>" parses to the same live pid but names a distinct dir
    val liveLegacyAged = other.map[java.io.File](h =>
      mk(dir, s"${prefix}0${h.pid()}", aged = true))
    // tokened + live pid + matching REAL start instant: survives even aged
    val liveTokenedAged = other.flatMap[java.io.File] { h =>
      h.info().startInstant().map[java.io.File](si =>
        mk(dir, s"$prefix${h.pid()}t${si.toEpochMilli}", aged = true))
    }
    val unparseable = mk(dir, s"${prefix}zzz")
    val unparseableAged = mk(dir, s"${prefix}qqq", aged = true)

    Tables.reapDead(dir, prefix)

    assert(selfOk.exists(), "own tokened dir must survive")
    assert(!selfRecycled.exists(), "recycled-pid predecessor dir must be reaped")
    assert(!deadTokened.exists(), "dead-pid tokened dir must be reaped")
    assert(!deadLegacy.exists(), "dead-pid legacy dir must be reaped")
    liveLegacyFresh.ifPresent(f =>
      assert(f.exists(), "live-pid fresh legacy dir must survive"))
    liveLegacyAged.ifPresent(f =>
      assert(!f.exists(), "aged legacy dir reaped even with live pid (recycle fallback)"))
    liveTokenedAged.ifPresent(f =>
      assert(f.exists(), "live owner with matching start token NEVER age-reaped"))
    assert(unparseable.exists(), "fresh unparseable name survives")
    assert(!unparseableAged.exists(), "aged unparseable name reaped")
  }

  test("scratchDir: emits the tokened name and is stable within the JVM") {
    val a = Tables.scratchDir("ttok", "k1")
    val b = Tables.scratchDir("ttok", "k1")
    assert(a == b, "same (tag, key) must reuse one path in-process")
    val base = new java.io.File(a).getName
    val me = ProcessHandle.current()
    me.info().startInstant().ifPresent { si =>
      assert(base.endsWith(s"p${me.pid()}t${si.toEpochMilli}"),
        s"expected pid+start token suffix, got $base")
    }
  }

  test("load: a second read of a table runs no Spark job and plans as a plain read") {
    val first = Tables.documents(spark, sf)
    val (jobs, second) = jobsOf(Tables.documents(spark, sf))
    assert(jobs == 0, s"a warm read ran $jobs jobs")
    val plain = spark.read.parquet(s"$sf/documents.parquet")
    // StructType equality covers names, types, nullability and metadata
    assert(second.schema == first.schema && second.schema == plain.schema)
    // Memo keys hash the logical plan: every read of the table keys alike
    assert(second.queryExecution.logical.semanticHash() ==
      first.queryExecution.logical.semanticHash())
    // and a plain read's cached data still serves it
    assert(second.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed))
    assert(second.collect().toSeq == plain.collect().toSeq)
  }

  test("load: a rewritten file with a new schema is re-inferred") {
    import spark.implicits._
    val dir = tempDir("graft_tables_rw")
    val path = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    Seq((1L, "x", 2.5)).toDF("a", "b", "c").write.mode("overwrite").parquet(path)
    val again = Tables.load(spark, dir, "t")
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((1L, "x", 2.5)))
  }

  test("load: a conf that steers inference re-infers the schema") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import spark.implicits._
    val dir = tempDir("graft_tables_conf")
    // an un-annotated binary column in a file without Spark's schema
    // metadata (a Spark-written file would pin BinaryType)
    val conf = spark.sparkContext.hadoopConfiguration
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), conf))
      .withType(msg).withConf(conf).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      .newGroup().append("b", org.apache.parquet.io.api.Binary.fromString("hi")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val was = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.select("b").as[String].collect().toSeq == Seq("hi"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType == BinaryType)
    } finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
