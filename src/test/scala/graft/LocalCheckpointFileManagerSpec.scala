package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.io.LocalCheckpointFileManager
import graft.operators.StatefulQueries

/** The fork-free checkpoint manager keeps the engine default's contract —
  * atomic publish, no silent overwrite, verified `.crc` sidecars, the same
  * modes and listing — routes every other scheme to the engine default,
  * is scoped to the library's drains without leaking into the session, and
  * removes every process fork from a warmed keyed-state drain. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val hadoopConf = new Configuration()
  private val Key = LocalCheckpointFileManager.ConfKey
  private val Q1r = "q1r_running_max_streaming"

  private def withTempDir[T](body: JPath => T): T = {
    val d = Files.createTempDirectory("graft-ckpt-fm-")
    try body(d) finally StatefulQueries.deleteRecursively(d)
  }

  private def hpath(d: JPath, rel: String): Path = new Path(new Path(d.toUri), rel)

  private def write(m: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** relative path -> posix mode of every entry under `d` */
  private def tree(d: JPath): Map[String, String] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.map { p =>
      d.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  test("createAtomic publishes the final file only on close(), with a .crc sidecar") {
    withTempDir { d =>
      val m = new LocalCheckpointFileManager(new Path(d.toUri), hadoopConf)
      val p = hpath(d, "0")
      val out = m.createAtomic(p, false)
      out.write("v1".getBytes(UTF_8))
      out.flush()
      assert(!Files.exists(d.resolve("0")) && !m.exists(p), "final file visible before close()")
      out.close()
      assert(read(m, p) == "v1")
      assert(tree(d).keySet == Set("", "0", ".0.crc"), "temp file left behind or sidecar missing")
    }
  }

  test("cancel() leaves neither the final file nor the temp file") {
    withTempDir { d =>
      val m = new LocalCheckpointFileManager(new Path(d.toUri), hadoopConf)
      val out = m.createAtomic(hpath(d, "0"), false)
      out.write("v1".getBytes(UTF_8))
      out.cancel()
      assert(tree(d).keySet == Set(""))
    }
  }

  test("overwrite=false on an existing file throws; overwrite=true replaces it") {
    withTempDir { d =>
      val m = new LocalCheckpointFileManager(new Path(d.toUri), hadoopConf)
      val p = hpath(d, "0")
      write(m, p, "v1")
      intercept[FileAlreadyExistsException](write(m, p, "v2"))
      assert(read(m, p) == "v1")
      write(m, p, "v3", overwrite = true)
      assert(read(m, p) == "v3")
    }
  }

  test("one flipped byte fails the read with ChecksumException and keeps the file") {
    withTempDir { d =>
      val m = new LocalCheckpointFileManager(new Path(d.toUri), hadoopConf)
      val p = hpath(d, "0")
      write(m, p, "0123456789" * 10)
      val f = d.resolve("0")
      val bytes = Files.readAllBytes(f)
      bytes(37) = (bytes(37) ^ 1).toByte
      Files.write(f, bytes)
      intercept[ChecksumException](read(m, p))
      assert(Files.exists(f), "a corrupt checkpoint file must stay where it is")
    }
  }

  test("modes, list, exists, delete and mkdirs match the engine default on the same tree") {
    def script(m: CheckpointFileManager, d: JPath): Seq[Any] = {
      val sub = hpath(d, "state/0/3")
      m.mkdirs(sub)
      m.mkdirs(hpath(d, "offsets"))
      write(m, hpath(d, "offsets/0"), "o0")
      write(m, new Path(sub, "1.delta"), "s1")
      write(m, hpath(d, "offsets/1"), "o1")
      m.delete(hpath(d, "offsets/1"))
      m.delete(hpath(d, "offsets/missing"))
      m.mkdirs(sub) // existing directory: a no-op
      Seq(m.isLocal, m.exists(sub), m.exists(hpath(d, "offsets/0")),
          m.exists(hpath(d, "offsets/1")),
          m.list(hpath(d, "offsets")).map(_.getPath.getName).sorted.toSeq,
          m.list(sub).map(s => (s.getPath.getName, s.getLen)).sorted.toSeq,
          read(m, hpath(d, "offsets/0")))
    }
    withTempDir { a =>
      withTempDir { b =>
        val ours = new LocalCheckpointFileManager(new Path(a.toUri), hadoopConf)
        val engine = LocalCheckpointFileManager.engineDefault(new Path(b.toUri), hadoopConf)
        assert(engine.isInstanceOf[FileContextBasedCheckpointFileManager])
        assert(script(ours, a) == script(engine, b))
        assert(tree(a) == tree(b))
        assert(tree(a).contains("state/0/3/.1.delta.crc"))
      }
    }
  }

  test("a non-file: path is routed to the engine default manager") {
    withTempDir { d =>
      val conf = new Configuration(hadoopConf)
      conf.set("fs.graftmock.impl", classOf[MockSchemeFileSystem].getName)
      val root = new Path("graftmock", null, d.toString)
      val m = new LocalCheckpointFileManager(root, conf)
      // no FileContext binding for the scheme: the engine falls back to its
      // FileSystem-based manager over the scheme's own (raw, crc-less) fs
      assert(m.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
      assert(m.underlying.getClass ==
        LocalCheckpointFileManager.engineDefault(root, conf).getClass)
      write(m, new Path(root, "0"), "v1")
      assert(read(m, new Path(root, "0")) == "v1")
      assert(tree(d).keySet == Set("", "0"))
    }
  }

  test("after a q1r drain the session key is back as it was: unset, pinned, or thrown") {
    assert(!spark.conf.getAll.contains(Key))
    SparkEntry.queries(Q1r)(spark, Sf0001).count()
    assert(!spark.conf.getAll.contains(Key), "drain left the manager key set")

    // a caller's pin wins over the drain's manager and survives it
    val pin = classOf[CountingCheckpointFileManager].getName
    CountingCheckpointFileManager.created.set(0)
    spark.conf.set(Key, pin)
    try {
      SparkEntry.queries(Q1r)(spark, Sf0001).count()
      assert(spark.conf.getOption(Key).contains(pin))
      assert(CountingCheckpointFileManager.created.get > 0, "the pinned manager was bypassed")
    } finally spark.conf.unset(Key)

    // a drain that throws inside the scope restores the key too
    var inScope: Option[String] = None
    val stream = graft.io.Tables.streamTable(spark, Sf0001, "region")
    val e = intercept[RuntimeException] {
      StatefulQueries.drainToMemory(spark, stream) { _ =>
        inScope = spark.conf.getOption(Key)
        sys.error("planted drain failure")
      }
    }
    assert(e.getMessage.contains("planted drain failure"))
    assert(inScope.contains(classOf[LocalCheckpointFileManager].getName))
    assert(!spark.conf.getAll.contains(Key), "a failed drain left the manager key set")
  }

  test("a warmed q1r drain forks no process") {
    val q1r = SparkEntry.queries(Q1r)
    // warm-up: one-time process probes (shell capability checks, group
    // lookups) happen here, outside the recording
    q1r(spark, Sf0001).count()
    // forks that are not this drain's, flushed before recording: state
    // stores of earlier suites' queries close (RocksDB's `rm -rf` of its
    // local dirs) when the maintenance thread unloads them, up to a minute
    // after their query stopped; and the driver heartbeater probes the page
    // size (`getconf`) once, on its first beat, one to two intervals after
    // the context starts
    org.apache.spark.sql.execution.streaming.state.StateStoreAccess.unloadAll()
    val beat = spark.sparkContext.getConf.getTimeAsMs("spark.executor.heartbeatInterval", "10s")
    val firstBeatDone = spark.sparkContext.startTime + 2 * beat + 1000
    while (System.currentTimeMillis() < firstBeatDone) Thread.sleep(100)
    val dump = Files.createTempFile("graft-forks-", ".jfr")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      q1r(spark, Sf0001).count()
      rec.stop()
      rec.dump(dump)
      // every streaming query runs on a session clone whose artifact
      // directory the engine removes with `rm -rf` when the garbage
      // collector reclaims the clone — at a GC's time, not the drain's, so
      // it is told apart by its stack, not by the recording window
      def sessionCleanup(e: jdk.jfr.consumer.RecordedEvent): Boolean =
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filterNot(sessionCleanup)
        .map(e => s"${Option(e.getThread).map(_.getJavaName).orNull}: ${e.getString("command")}")
      assert(forks.isEmpty, s"${forks.size} process forks, e.g. ${forks.take(5).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}

/** A raw local file system under its own scheme, so a path can be local on
  * disk yet not `file:`. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftmock:///")
  override def getScheme: String = "graftmock"
}

/** The engine default manager, counting its instances — a pinned manager
  * class the drains must honour. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}

object CountingCheckpointFileManager {
  val created = new AtomicInteger()
}
