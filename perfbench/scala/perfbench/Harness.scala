package perfbench

import graft.SparkEntry
import graft.plans.FrameMemo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.ExecutedFrame

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in one JVM, closed loop: a single
  * client runs one query at a time, in the workload's listed order
  * permuted by the seed.
  *
  *  1. check pass: every query once, output written as parquet under
  *     `<out>/check/<query>` for the golden compare done by `run.py`;
  *  2. `--warmup` untimed passes;
  *  3. timed passes until `--seconds` is used up, at least `--min-passes`.
  *
  * Each query is four calls into the engine's public entry points —
  * build (`fn(spark, dataDir)`), plan (`queryExecution.executedPlan`),
  * action (the sink) and sweep (`FrameMemo.sweepOthers`). With
  * `--trace 1` the timed passes interleave untraced and traced; traced
  * passes record those calls as spans and attach a SparkListener and a
  * QueryExecutionListener ([[Tracer]]). Every record goes to the JSON-lines
  * file `--log`; `run.py` turns it into metrics.
  *
  * `--dump-oracle <file>` writes the DuckDB oracle SQL of `--queries` and
  * exits without starting Spark. */
object Harness {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    Opts(args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val queries = o("queries").split(',').toSeq
    val known = SparkEntry.queries
    val unknown = queries.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    o.get("dump-oracle") match {
      case Some(path) => dumpOracle(queries, path)
      case None => run(o, queries.map(q => q -> known(q)))
    }
  }

  private def dumpOracle(queries: Seq[String], path: String): Unit = {
    val sql = SparkEntry.oracleSql
    val body = queries.map { q =>
      s"${Json.str(q)}:${sql.get(q).map(Json.str).getOrElse("null")}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body + "\n")
  }

  type Fn = (SparkSession, String) => DataFrame

  private def run(o: Opts, listed: Seq[(String, Fn)]): Unit = {
    val cores = o("cores").toInt
    val dataDir = o("data")
    val outDir = o("out")
    val parquetSink = o("sink") == "parquet"
    val trace = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val warmup = o("warmup").toInt
    val order = new scala.util.Random(o("seed").toLong).shuffle(listed)
    val log = new Log(o("log"))
    log.write(Json.obj("kind" -> "meta", "cores" -> cores,
      "order" -> Json.arr(order.map(_._1))))

    val spark = session(cores, o("tmp"))
    val tracer = new Tracer(spark, log)
    val sinkDir = s"$outDir/sink"

    def sink(name: String, df: DataFrame): Long =
      if (parquetSink) ExecutedFrame.parquet(df, s"$sinkDir/$name")
      else ExecutedFrame.noop(df)

    def timed[T](f: => T): (Either[Throwable, T], Double) = {
      val t0 = System.nanoTime()
      val r = try Right(f) catch { case e: Throwable => Left(e) }
      (r, (System.nanoTime() - t0) / 1e6)
    }

    // check pass: parquet for every workload, so run.py can compare it
    order.foreach { case (name, fn) =>
      val (r, ms) = timed {
        ExecutedFrame.parquet(fn(spark, dataDir), s"$outDir/check/$name")
      }
      FrameMemo.sweepOthers(spark)
      log.write(Json.obj("kind" -> "check", "query" -> name, "ms" -> ms,
        "rows" -> r.toOption, "err" -> r.left.toOption.map(errText)))
    }

    def untracedQuery(name: String, fn: Fn): (Either[Throwable, Long], Double) = {
      val res = timed {
        val df = fn(spark, dataDir)
        df.queryExecution.executedPlan
        sink(name, df)
      }
      val sweep = timed(FrameMemo.sweepOthers(spark))._2
      (res._1, res._2 + sweep)
    }

    def tracedQuery(pass: Int, name: String, fn: Fn): (Either[Throwable, Long], Double) = {
      val q = tracer.open("query", 0L, pass, name)
      val r = try {
        val df = tracer.span("operators.build", q)(fn(spark, dataDir))
        tracer.span("plans.plan", q) {
          tracer.planPhases(q, df.queryExecution)
        }
        val rows = tracer.span("sched.action", q)(sink(name, df))
        tracer.pinCensus(q)
        Right(rows)
      } catch { case e: Throwable => Left(e) }
      tracer.span("plans.sweep", q)(FrameMemo.sweepOthers(spark))
      (r, tracer.close(q))
    }

    def pass(p: Int, traced: Boolean, timedPass: Boolean): Double = {
      System.gc()
      val jvm0 = JvmStats.start()
      if (traced) tracer.attach()
      val t0 = System.nanoTime()
      order.foreach { case (name, fn) =>
        val (r, ms) = if (traced) tracedQuery(p, name, fn) else untracedQuery(name, fn)
        if (timedPass) log.write(Json.obj("kind" -> "rep", "pass" -> p, "query" -> name,
          "ms" -> ms, "rows" -> r.toOption, "err" -> r.left.toOption.map(errText)))
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      if (traced) tracer.detach()
      // standalone resolution of every table, outside the pass wall time
      val resolveMs = if (traced) Some(tracer.resolveTables(p, dataDir)) else None
      if (timedPass) log.write(Json.obj(Seq("kind" -> "pass", "pass" -> p,
        "traced" -> traced, "wall_ms" -> wallMs, "resolve_ms" -> resolveMs) ++
        jvm0.finish(): _*))
      wallMs
    }

    (1 to warmup).foreach(_ => pass(-1, traced = false, timedPass = false))
    log.write(Json.obj("kind" -> "timed_start", "epoch_ms" -> System.currentTimeMillis()))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    var last = 0.0
    // a traced run needs the whole U T T U cycle
    val minPasses = if (trace) math.max(4, o("min-passes").toInt) else o("min-passes").toInt
    while (p < minPasses || System.nanoTime() + last * 1e6 <= deadline) {
      // traced passes in U T T U order: unbiased against a warm-up trend
      last = pass(p, traced = trace && (p % 4 == 1 || p % 4 == 2), timedPass = true)
      p += 1
    }
    spark.stop() // drains the listener bus: every traced event is in
    tracer.flush()
    log.close()
  }

  private def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  private def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      // the session recipe graft.Bench uses (see its scaladoc)
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.cache.serializer", "graft.plans.RowCacheSerializer")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** GC time, heap peak and code cache over one pass. */
  final class JvmStats private (gc0: Long) {
    def finish(): Seq[(String, Any)] = {
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      val heapPeak = pools.filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
      val code = pools.filter(_.getName.toLowerCase.contains("code")).map(_.getUsage.getUsed).sum
      Seq("gc_ms" -> (JvmStats.gcMs() - gc0), "heap_peak_mb" -> heapPeak / 1048576.0,
        "codecache_mb" -> code / 1048576.0)
    }
  }
  object JvmStats {
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def start(): JvmStats = {
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      new JvmStats(gcMs())
    }
  }

  /** Append-only JSON-lines record file. */
  final class Log(path: String) {
    private val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    def write(line: String): Unit = synchronized { w.write(line); w.write('\n') }
    def close(): Unit = w.close()
  }

  /** Just enough JSON writing for the record file. */
  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def value(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => value(x)
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case Raw(s) => s
      case other => str(other.toString)
    }
    final case class Raw(json: String)
    def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
    def obj(kvs: (String, Any)*): String =
      kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }
}
