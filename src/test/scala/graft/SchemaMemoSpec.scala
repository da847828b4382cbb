package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Success, Try}

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType

import graft.io.Tables
import graft.operators.StatefulQueries

/** Parquet schemas are inferred once: inference runs a Spark job, so a
  * repeated read of unchanged files must run none, while a rewrite of the
  * files, or a change to the session conf that steers inference, must infer
  * afresh and be seen. Jobs are counted with a SparkListener. */
class SchemaMemoSpec extends SparkSpec {

  /** The Spark jobs `body` runs (building a DataFrame, not executing it). */
  private def jobsOf[T](body: => T): (Int, T) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(spark.sparkContext)
      (jobs.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withTempDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-memo-")
    try body(dir.toString) finally StatefulQueries.deleteRecursively(dir)
  }

  /** Write `df` as ONE bare parquet file at `path`, replacing any file there
    * (the fixtures' layout: `<sfDir>/<name>.parquet` is a file). */
  private def writeBare(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = s"$path.stage"
    df.coalesce(1).write.parquet(stage)
    val listing = Files.list(Paths.get(stage))
    val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst().orElseThrow()
               finally listing.close()
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    StatefulQueries.deleteRecursively(Paths.get(stage))
  }

  test("a second Tables.table read infers nothing; a rewrite infers afresh") {
    withTempDir { dir =>
      writeBare(spark.range(5).toDF("id"), s"$dir/t.parquet")
      val (first, df1) = jobsOf(Tables.table(spark, dir, "t"))
      assert(first > 0, "the first read should infer the schema")
      val (second, df2) = jobsOf(Tables.table(spark, dir, "t"))
      assert(second == 0, s"the second read ran $second jobs")
      assert(df2.schema == df1.schema && df2.count() == 5)
      // the same file, rewritten in place with another column
      writeBare(spark.range(5).selectExpr("id", "id * 2 AS x"), s"$dir/t.parquet")
      val (rewritten, df3) = jobsOf(Tables.table(spark, dir, "t"))
      assert(rewritten > 0, "a rewritten file must be inferred afresh")
      assert(df3.columns.toSeq == Seq("id", "x"))
      assert(df3.selectExpr("sum(x)").head().getLong(0) == 20L)
    }
  }

  test("a change to nanosAsLong infers afresh") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getAll.get(key)
    withTempDir { dir =>
      // an int64 TIMESTAMP(NANOS) column, the encoding the flag exists for
      // (Spark cannot write one)
      val schema = MessageTypeParser.parseMessageType(
        "message e { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val out = new org.apache.hadoop.fs.Path(s"$dir/e.parquet")
      val w = ExampleParquetWriter.builder(out).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts", 1609459200123456789L))
      finally w.close()
      try {
        spark.conf.set(key, "true")
        assert(Tables.table(spark, dir, "e").schema("ts").dataType == LongType)
        assert(jobsOf(Tables.table(spark, dir, "e"))._1 == 0)
        // a stale memo would hand back the long here
        spark.conf.set(key, "false")
        val (jobs, unflagged) = jobsOf(Try(Tables.table(spark, dir, "e").schema("ts").dataType))
        assert(jobs > 0, "flipping nanosAsLong must infer afresh")
        assert(unflagged != Success(LongType), s"the flagged schema was served: $unflagged")
      } finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("a second replay of a cached time-ordered copy infers nothing") {
    val key = s"schema-memo:${System.nanoTime()}"
    def copy() = StatefulQueries.timeOrderedFilesCopy(spark, key, Seq("r0.parquet", "r1.parquet")) {
      Seq(spark.range(0, 3).toDF("id"), spark.range(3, 6).toDF("id"))
    }
    val dir = copy()
    val (hit, again) = jobsOf(copy())
    assert(hit == 0 && again == dir, s"a cached copy ran $hit jobs")
    val (first, _) = jobsOf(StatefulQueries.replayStream(spark, dir))
    assert(first > 0, "the first replay should infer the copy's schema")
    for (i <- 2 to 3) {
      val (jobs, stream) = jobsOf(StatefulQueries.replayStream(spark, dir))
      assert(jobs == 0, s"replay $i ran $jobs jobs")
      assert(stream.isStreaming && stream.columns.toSeq == Seq("id"))
    }
    assert(StatefulQueries.drainToMemory(spark, StatefulQueries.replayStream(spark, dir))(
      StatefulQueries.requireDataBatches(_, 2, "the two-file replay")).count() == 6)
  }
}
