package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** JVM side of the benchmark: runs one workload against the library's
  * public entry points and writes raw samples for `run.py`, which computes
  * and prints the metrics.
  *
  *   Harness run    --workload W --seed N --seconds S --trace 0|1 --data DIR
  *                  --list FILE --out DIR [live options]
  *   Harness probe  --data DIR --out DIR [--list FILE] [--repeat N]
  *   Harness oracle --list FILE --out DIR
  *
  * Exit codes: 0 done (samples written), 3 the workload list drifted from
  * the registry, 2 bad arguments.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  final case class Listed(name: String, kind: String) // kind: batch | drain

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse(usage("no mode"))
    val opts = argv.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"--$k is required"))
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    mode match {
      case "oracle" =>
        val sql = SparkEntry.oracleSql
        val listed = readList(Paths.get(opt("list")))
        guardRegistered(listed)
        write(out.resolve("oracle_sql.json"), Json(listed.map(l => l.name -> sql(l.name)).toMap))
      case "probe" | "run" =>
        val spark = session(opts.getOrElse("cpus", "4"), out)
        val rec = new Recorder(spark)
        try {
          if (mode == "probe")
            probe(spark, rec, opt("data"), opts.get("list").map(p => readList(Paths.get(p))),
              opts.getOrElse("repeat", "1").toInt, out)
          else {
            val workload = opt("workload")
            val seed = opt("seed").toLong
            val seconds = opt("seconds").toDouble
            val trace = opt("trace") == "1"
            val samples = workload match {
              case "live-stream" => LiveStream.run(spark, rec, opts, seed, seconds, trace, out)
              case "keyed-state" | "batch-mix" =>
                val listed = readList(Paths.get(opt("list")))
                guardRegistered(listed)
                closedLoop(spark, rec, listed, opt("data"), seed, seconds, trace, out)
              case other => usage(s"unknown workload $other")
            }
            write(out.resolve("samples.json"), Json(samples ++ Map(
              "session_ready_ms" -> sessionReadyMs, "jvm_start_ms" -> jvmStartMs,
              "rss_hwm_mb" -> rssHwmMb())))
            if (trace) write(out.resolve("trace.json"), Json(rec.dump()))
          }
        } finally spark.stop()
      case other => usage(s"unknown mode $other")
    }
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  /** A listed name the registry lacks, or a registry call whose engine path
    * differs from its listed kind, invalidates the run. */
  private def drift(msg: String): Nothing = {
    System.err.println(s"[perfbench] workload drift: $msg")
    sys.exit(3)
  }

  def guardRegistered(listed: Seq[Listed]): Unit = {
    val missing = listed.map(_.name).filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty) drift(s"not in the registry: ${missing.mkString(", ")}")
  }

  /** `name [kind]` per line; `#` starts a comment. */
  def readList(p: Path): Seq[Listed] =
    Files.readAllLines(p).asScala.toSeq.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).map {
      line => line.split("\\s+") match {
        case Array(n)    => Listed(n, "batch")
        case Array(n, k) if k == "batch" || k == "drain" => Listed(n, k)
        case _ => usage(s"bad list line '$line' in $p")
      }
    }

  private var sessionReadyMs = 0.0
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def session(cpus: String, out: Path): SparkSession = {
    val scratch = out.resolve("spark").toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sessionReadyMs = System.currentTimeMillis().toDouble
    s
  }

  def write(p: Path, s: String): Unit = Files.writeString(p, s)

  def rssHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Seeded order of one pass: every pass permutes the list afresh. */
  def passOrder[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  private def errorOf(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(4)
      .map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").mkString(" / ").take(600)

  // ---- closed loop over registry queries -----------------------------------

  /** One registry call, as a user makes it: the builder call, Catalyst
    * planning, then full materialization (a noop-sink write by default, a
    * parquet dump for the correctness check). Returns the sample; an
    * exception fails the sample and still counts its elapsed time. */
  def runOne(spark: SparkSession, rec: Recorder, l: Listed, fn: Query, data: String,
             trace: String, sink: DataFrame => Unit): Map[String, Any] = {
    rec.currentTrace = trace
    val t0 = rec.nowMs
    var marks = List(t0)
    def mark(): Unit = marks = rec.nowMs :: marks
    val error = try {
      rec.span("query", trace) {
        val df = rec.span("build", trace)(fn(spark, data))
        mark()
        rec.span("plan", trace)(df.queryExecution.executedPlan)
        mark()
        rec.span("materialize", trace)(sink(df))
        mark()
      }
      None
    } catch { case t: Throwable => Some(errorOf(t)) }
    val t1 = rec.nowMs
    rec.settle()
    val streams = rec.streamsStarted(trace)
    val expectStreams = l.kind == "drain"
    if (error.isEmpty && (streams > 0) != expectStreams)
      drift(if (expectStreams) s"${l.name} is listed as a drain but started no streaming query"
            else s"${l.name} is listed as a batch query but started $streams streaming queries")
    val at = marks.reverse
    val steps = at.zip(at.tail).map { case (a, b) => (b - a) / 1000.0 }
    Map("name" -> l.name, "ok" -> error.isEmpty, "error" -> error,
      "elapsed_s" -> (t1 - t0) / 1000.0, "streams" -> streams,
      "build_s" -> steps.lift(0), "plan_s" -> steps.lift(1), "materialize_s" -> steps.lift(2))
  }

  def noopSink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def closedLoop(spark: SparkSession, rec: Recorder, listed: Seq[Listed], data: String,
                 seed: Long, seconds: Double, trace: Boolean, out: Path): Map[String, Any] = {
    val reg = SparkEntry.queries
    // warm-up pass: fills lazy per-session caches, and dumps every result once
    // for the correctness check, outside the timed region
    val results = out.resolve("results")
    val warm = passOrder(listed, seed, 0).map { l =>
      runOne(spark, rec, l, reg(l.name), data, s"warmup/${l.name}",
        df => df.coalesce(1).write.mode("overwrite").parquet(results.resolve(l.name).toString))
    }
    val setupEndMs = System.currentTimeMillis().toDouble
    val jvm = JvmWatch()
    def passes(from: Int, budgetS: Double, traced: Boolean): Seq[Map[String, Any]] = {
      rec.tracing = traced
      if (traced) jvm.reset()
      val t0 = rec.nowMs
      val done = Iterator.from(from).map { p =>
        val order = passOrder(listed, seed, p)
        val p0 = rec.nowMs
        val qs = rec.span("pass", s"pass$p") {
          order.map(l => runOne(spark, rec, l, reg(l.name), data, s"p$p/${l.name}", noopSink))
        }
        Map("pass" -> p, "traced" -> traced, "wall_s" -> (rec.nowMs - p0) / 1000.0,
          "queries" -> qs)
      }
      val taken = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      // at least one pass, then more while the budget lasts
      while (taken.isEmpty || (rec.nowMs - t0) / 1000.0 < budgetS) taken += done.next()
      taken.toSeq
    }
    // an untraced run measures every pass; a traced run spends half its time
    // untraced and half traced, so the tracing overhead is measured in-run
    val timed =
      if (!trace) passes(1, seconds, traced = false)
      else {
        val plain = passes(1, seconds / 2, traced = false)
        plain ++ passes(plain.size + 1, seconds / 2, traced = true)
      }
    rec.tracing = false
    Map("workload_kind" -> "closed", "setup_end_ms" -> setupEndMs,
      "warmup" -> warm, "passes" -> timed, "jvm" -> jvm.read())
  }

  /** GC time and heap high-water over the traced part of a run. */
  final case class JvmWatch() {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private var gc0 = 0L
    def reset(): Unit = {
      gc0 = gcs.map(_.getCollectionTime).sum
      heap.foreach(_.resetPeakUsage())
    }
    def read(): Map[String, Any] = Map(
      "gc_s" -> (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0,
      "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  // ---- probe: timings over the registry, for workload selection -----------

  /** Runs every registry query (or the listed ones) `repeat` times, round by
    * round, and records the last round's timings, so they are warm. */
  def probe(spark: SparkSession, rec: Recorder, data: String, only: Option[Seq[Listed]],
            repeat: Int, out: Path): Unit = {
    val names = only.map(_.map(_.name)).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    def once(n: String, round: Int): Map[String, Any] = {
      val trace = s"probe$round/$n"
      rec.currentTrace = trace
      val t0 = rec.nowMs
      val r = try {
        val df = SparkEntry.queries(n)(spark, data)
        val t1 = rec.nowMs
        df.queryExecution.executedPlan
        val t2 = rec.nowMs
        noopSink(df)
        val t3 = rec.nowMs
        Map("build_s" -> (t1 - t0) / 1000, "plan_s" -> (t2 - t1) / 1000,
          "materialize_s" -> (t3 - t2) / 1000, "ok" -> true)
      } catch { case t: Throwable => Map("ok" -> false, "error" -> errorOf(t)) }
      rec.settle()
      Map("name" -> n, "elapsed_s" -> (rec.nowMs - t0) / 1000,
        "streams" -> rec.streamsStarted(trace)) ++ r
    }
    val rounds = (1 to repeat).map(round => names.map(once(_, round)))
    // a query that caches its stream's result per session starts a streaming
    // query only on its first call, so every round's count is kept
    val rows = rounds.last.zipWithIndex.map { case (r, i) =>
      r ++ Map("streams_by_round" -> rounds.map(_(i)("streams")))
    }
    write(out.resolve("probe.json"), Json(rows))
  }
}
