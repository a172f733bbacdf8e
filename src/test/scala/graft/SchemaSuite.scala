package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift tripwire (VERDICT r8 item 3). The driver regenerates
  * `/root/testdata` between rounds and has already changed a physical
  * type once (events.ts: timestamp[ns] → timestamp[us]), which surfaced
  * as 30 opaque analysis failures. This suite turns the next drift into
  * ONE readable failure naming the exact table.column and the type it
  * moved to, before any query runs.
  */
class SchemaSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("all 10 tables match the expected logical schema (drift tripwire)") {
    val drift = Tables.verifySchemas(spark, sf)
    assert(drift.isEmpty,
      "TESTDATA SCHEMA DRIFT — the driver regenerated parquet with a new " +
        "shape; adapt Tables (and FIXTURES.md) before trusting any result:\n  " +
        drift.mkString("\n  "))
  }

  test("ts_us is IDENTICAL under the ns and µs physical encodings (driver flip-back safety)") {
    // two committed fixtures hold the SAME 200 logical rows, one written
    // timestamp[ns] (rounds 1–7 encoding), one timestamp[us] (round 8+);
    // Tables.events must canonicalize both to the same bigint µs values —
    // the property that makes the engine independent of the driver's
    // parquet writer settings.
    def dirOf(sub: String): String = {
      val url = getClass.getResource(s"/$sub/events.parquet")
      assert(url != null, s"missing test fixture $sub/events.parquet")
      new java.io.File(url.toURI).getParentFile.getParent + s"/$sub"
    }
    val ns = Tables.events(spark, dirOf("events-ns"))
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val us = Tables.events(spark, dirOf("events-us"))
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ns.size == 200 && us.size == 200)
    assert(ns == us, {
      val diff = ns.collect { case (k, v) if us.get(k) != Some(v) =>
        s"event $k: ns-encoding → $v, µs-encoding → ${us.get(k)}" }
      s"canonicalization diverges between encodings:\n  ${diff.take(5).mkString("\n  ")}"
    })
  }

  test("events canonicalization is session-timezone independent (ADVICE r9)") {
    // Tables no longer pins spark.sql.session.timeZone (mutating a shared
    // session's global conf on every read was an ADVICE r9 finding); the
    // NTZ branch instead uses wall-clock arithmetic that must yield the
    // SAME naive-as-UTC µs whatever timezone the host session runs in.
    val before = spark.conf.get("spark.sql.session.timeZone")
    def tsOf(): Map[Long, Long] = Tables.events(spark, sf)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = tsOf()
      for (tz <- Seq("America/New_York", "Asia/Kathmandu", "Pacific/Chatham")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        assert(tsOf() == utc, s"ts_us canonicalization drifts under session tz $tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("Tables.apply leaves the session timezone untouched (ADVICE r9)") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      Tables(spark, sf, "events").schema // force the read path
      assert(spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo",
        "Tables.apply must not mutate spark.sql.session.timeZone")
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("events canonicalization yields bigint µs under the current encoding") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_us").dataType.simpleString == "bigint")
    assert(!ev.columns.contains("ts"), "raw ts must not leak past Tables.events")
    // sanity: values are plausibly µs-since-epoch for the 2024+ corpus
    // (a ns/ms mix-up would be off by 1000× in one direction or the other)
    val r = ev.selectExpr("min(ts_us) AS lo", "max(ts_us) AS hi").collect()(0)
    val us2020 = 1577836800000000L // 2020-01-01 in µs
    val us2100 = 4102444800000000L // 2100-01-01 in µs
    assert(r.getLong(0) >= us2020 && r.getLong(1) <= us2100,
      s"ts_us out of plausible µs range: [${r.getLong(0)}, ${r.getLong(1)}]")
  }

  /** Spark jobs `f` launches on this thread, counted by a SparkListener.
    * The listener bus is async: a sentinel job in its own group runs after
    * `f`, and its arrival guarantees every earlier JobStart was delivered. */
  private def jobsLaunchedBy(f: => Unit): Int = {
    val group = s"schema-${java.util.UUID.randomUUID}"
    val drain = s"$group-drain"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`drain`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(drain, "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus failed to drain in 30 s")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("schema registry: unchanged table reads launch no job; a rewrite infers again") {
    val dir = Files.createTempDirectory("graft_schema_registry").toFile
    val file = new java.io.File(dir, "events.parquet")
    val other = Files.createTempDirectory("graft_schema_other").toFile
    try {
      val fixture = getClass.getResource("/events-us/events.parquet")
      assert(fixture != null, "missing test fixture events-us/events.parquet")
      Files.copy(java.nio.file.Paths.get(fixture.toURI), file.toPath)
      val first = Tables(spark, dir.getPath, "events").schema
      assert(first.fieldNames.contains("ts"))
      var second: StructType = null
      val jobs = jobsLaunchedBy { second = Tables(spark, dir.getPath, "events").schema }
      assert(jobs == 0, s"a second read of an unchanged table launched $jobs job(s)")
      assert(second == first)

      // overwrite IN PLACE with a parquet file of another schema, and move
      // the mtime so the rewrite is visible even at coarse mtime resolution
      val mtime = file.lastModified()
      val out = new java.io.File(other, "out").getPath
      spark.range(3).toDF("rewritten").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
      assert(file.setLastModified(mtime + 10000))
      val rewritten = Tables(spark, dir.getPath, "events")
      assert(rewritten.schema.fieldNames.toSeq == Seq("rewritten"),
        s"stale schema after an in-place rewrite: ${rewritten.schema.simpleString}")
      assert(rewritten.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))

      assert(file.delete())
      val drift = Tables.verifySchemas(spark, dir.getPath)
      assert(drift.exists(_.startsWith("events: TABLE MISSING/UNREADABLE")),
        s"deleted table not reported: ${drift.mkString("; ")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      org.apache.commons.io.FileUtils.deleteQuietly(other)
    }
  }

  test("schema registry: keyed by the inference confs, one per session, safe for concurrent first reads") {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(ntz)
    def orderdate(): String = Tables(spark, sf, "orders").schema("o_orderdate").dataType.simpleString
    try {
      spark.conf.set(ntz, "true")
      assert(orderdate() == "timestamp_ntz")
      spark.conf.set(ntz, "false")
      assert(orderdate() == "timestamp")
    } finally before match {
      case Some(v) => spark.conf.set(ntz, v)
      case None => spark.conf.unset(ntz)
    }
    assert(orderdate() == "timestamp_ntz")

    // another session never sees this session's entries: its first read infers
    Tables(spark, sf, "region").schema
    val fresh = spark.newSession()
    assert(jobsLaunchedBy(Tables(fresh, sf, "region").schema) > 0,
      "a new session reused another session's registered schema")

    // eight concurrent first reads in a fresh session agree on one schema
    val session = spark.newSession()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val reads = (1 to 8).map { _ =>
        pool.submit(new Callable[StructType] {
          def call(): StructType = { start.await(); Tables(session, sf, "lineitem").schema }
        })
      }
      start.countDown()
      val schemas = reads.map(_.get(60, TimeUnit.SECONDS)).distinct
      assert(schemas.size == 1, s"concurrent first reads disagree: $schemas")
      assert(schemas.head == Tables(spark, sf, "lineitem").schema)
    } finally pool.shutdownNow()
  }
}
