package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.StockCsv
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{KSV, KV}

/** The open-loop workload: a separate generator process writes one quote
  * CSV per tick into a directory, and the reference's four keyed-state jobs
  * read it as four concurrent streaming queries on the session's default
  * state store, each into a sink that stamps the arrival of every batch.
  * The queries use the default trigger: a batch starts as soon as the
  * previous one ends and a new file is there, so a file waits at most for
  * the batch in flight, and its emit latency is that wait plus its own batch.
  * After the generator stops, the union of each query's emitted rows must
  * equal the same operator run in batch mode over the same files. */
object LiveStream {

  /** Per-symbol keyed input; `ord` is the quote's epoch day. */
  private def kv(raw: DataFrame, value: String) =
    raw.select(col("Symbol").as("key"),
      datediff(col("Date"), lit("1970-01-01")).cast("long").as("ord"),
      col(value).cast("double").as("value")).as[KV](Encoders.product[KV])

  /** The four operators over `raw`, each projected to (key, ord, ...). */
  def operators(raw: DataFrame): Seq[(String, DataFrame)] = {
    val ksv = raw.select(col("Symbol").as("key"),
        month(col("Date")).cast("string").as("subkey"),
        datediff(col("Date"), lit("1970-01-01")).cast("long").as("ord"),
        col("Volume").cast("double").as("value")).as[KSV](Encoders.product[KSV])
    Seq(
      "running_max" -> StatefulOps.runningMax(kv(raw, "Close")).toDF(),
      "block_average" -> StatefulOps.blockAverage(kv(raw, "High")).toDF()
        .select("key", "ord", "block", "out"),
      "running_max_by_month" -> StatefulOps.runningMaxBySubkey(ksv).toDF()
        .select("key", "ord", "subkey", "out"),
      "threshold_gaps" -> StatefulOps.thresholdGaps(kv(raw, "Close"), 300.0).toDF())
  }

  /** Rows one sink received: (batch id, arrival ms, rendered rows, ords). */
  final case class Arrival(batch: Long, atMs: Double, rows: Seq[String], ords: Seq[Long])

  private def start(name: String, df: DataFrame, ckpt: Path,
                    rec: Recorder, sink: mutable.ArrayBuffer[Arrival]): StreamingQuery =
    df.writeStream.queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.collect()
        val at = rec.nowMs
        sink.synchronized {
          sink += Arrival(id, at, rows.map(_.mkString("|")).toSeq, rows.map(_.getLong(1)).toSeq)
        }
        ()
      }.start()

  /** Compare the union of emitted rows with the batch run of each operator. */
  private def check(spark: SparkSession, dir: Path,
                    sinks: Map[String, mutable.ArrayBuffer[Arrival]]): Map[String, Any] = {
    val batch = operators(StockCsv.read(spark, dir.toString)).toMap
    val perOp = sinks.toSeq.sortBy(_._1).map { case (name, sink) =>
      val want = batch(name).collect().map(_.mkString("|")).groupBy(identity).view.mapValues(_.length).toMap
      val got = sink.flatMap(_.rows).groupBy(identity).view.mapValues(_.size).toMap
      val missing = want.map { case (r, n) => math.max(0, n - got.getOrElse(r, 0)) }.sum
      val extra = got.map { case (r, n) => math.max(0, n - want.getOrElse(r, 0)) }.sum
      name -> Map("expected" -> want.values.sum, "missing" -> missing, "extra" -> extra)
    }
    Map("per_query" -> perOp.toMap,
      "expected" -> perOp.map(_._2("expected")).sum,
      "missing" -> perOp.map(_._2("missing")).sum,
      "extra" -> perOp.map(_._2("extra")).sum)
  }

  private def generator(opts: Map[String, String], dir: Path, seed: Long, manifest: Path,
                        pace: Seq[String], log: Path): Process = {
    val cmd = Seq(opts("python"), opts("livegen"), "--dir", dir.toString,
      "--seed", seed.toString, "--symbols", opts("symbols"), "--manifest", manifest.toString) ++ pace
    new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
  }

  private def finish(p: Process): Unit = {
    val code = p.waitFor()
    if (code != 0) throw new IllegalStateException(s"live generator exited with $code")
  }

  def run(spark: SparkSession, rec: Recorder, opts: Map[String, String], seed: Long,
          seconds: Double, trace: Boolean, out: Path): Map[String, Any] = {
    rec.currentTrace = "live"
    val dir = out.resolve("live")
    Files.createDirectories(dir)
    val live = operators(StockCsv.readStream(spark, dir.toString)).map { case (n, df) =>
      val sink = mutable.ArrayBuffer.empty[Arrival]
      (n, sink, start(s"live_$n", df, out.resolve(s"ckpt-$n"), rec, sink))
    }
    val sinks = live.map { case (n, sink, _) => n -> sink }.toMap
    val queries = live.map(_._3)
    val warmTicks = opts("warm-ticks").toInt
    val pacedTicks = math.round(opts("warm-paced-seconds").toDouble * opts("rate").toDouble).toInt
    val manifest = out.resolve("live.manifest.jsonl")
    var gen: Option[Process] = None
    val samples = try {
      // warm-up, untimed: the stream's first ticks written at once, so
      // per-key state exists, then a few seconds of ticks at the workload's
      // rate, so the small batches of the timed part run on warm code
      finish(generator(opts, dir, seed, out.resolve("warm.manifest.jsonl"),
        Seq("--ticks", warmTicks.toString, "--rate", "0"), out.resolve("livegen-warm.log")))
      queries.foreach(_.processAllAvailable())
      finish(generator(opts, dir, seed, out.resolve("paced.manifest.jsonl"),
        Seq("--first-tick", warmTicks.toString, "--ticks", pacedTicks.toString,
          "--rate", opts("rate")), out.resolve("livegen-paced.log")))
      queries.foreach(_.processAllAvailable())
      val setupEndMs = System.currentTimeMillis().toDouble
      val jvm = Harness.JvmWatch()
      // timed: the generator continues the series on its own clock
      val g = generator(opts, dir, seed, manifest,
        Seq("--first-tick", (warmTicks + pacedTicks).toString, "--seconds", seconds.toString,
          "--rate", opts("rate")),
        out.resolve("livegen.log"))
      gen = Some(g)
      val genStartMs = rec.nowMs
      var traceFromMs: Option[Double] = None
      if (trace) {
        // the second half of a traced run is traced; the first half is not
        while (g.isAlive && rec.nowMs < genStartMs + seconds * 500) Thread.sleep(20)
        traceFromMs = Some(rec.nowMs)
        jvm.reset()
        rec.tracing = true
      }
      finish(g)
      queries.foreach(_.processAllAvailable())
      val genEndMs = rec.nowMs
      rec.settle()
      rec.tracing = false
      Map("workload_kind" -> "live", "setup_end_ms" -> setupEndMs,
        "gen_start_ms" -> genStartMs, "gen_end_ms" -> genEndMs, "trace_from_ms" -> traceFromMs,
        "manifest" -> manifest.toString,
        "symbols" -> opts("symbols").toInt, "rate" -> opts("rate").toDouble,
        "jvm" -> jvm.read(),
        // every batch's progress, traced or not: start, duration, input rows
        "progress" -> queries.map { q =>
          q.name -> q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
            Map("start_ms" -> Recorder.parseTs(p.timestamp),
              "batch_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
              "rows" -> p.numInputRows)
          }
        }.toMap,
        "sinks" -> sinks.map { case (n, s) =>
          n -> s.toSeq.map(a => Map("batch" -> a.batch, "at_ms" -> a.atMs, "ords" -> a.ords))
        })
    } finally {
      gen.filter(_.isAlive).foreach { g => g.destroy(); g.waitFor() }
      queries.foreach(_.stop())
    }
    samples ++ Map("check" -> check(spark, dir, sinks))
  }
}
