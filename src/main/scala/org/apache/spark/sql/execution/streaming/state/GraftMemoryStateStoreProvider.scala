package org.apache.spark.sql.execution.streaming.state

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType

/** Heap-only [[StateStoreProvider]] for SINGLE-JVM BOUNDED replays — the
  * `Trigger.AvailableNow` memory-sink drains this library benches: a fresh
  * query over an ephemeral checkpoint, run to completion, result detached.
  *
  * Why it exists (r19 verdict ask #1, measured first in
  * ProbeDrainBreakdown): the engine-default HDFS-backed provider keeps the
  * working state on-heap TOO, but pays per micro-batch and per store
  * instance for durability the drain never uses — every `put` is also
  * serialized into an LZ4 delta stream, and `commit` finalizes that file
  * through the rename-based checkpoint file manager (measured 50–90 ms of
  * summed commitTimeMs per store per batch on 1 KB of state). A drain whose
  * checkpoint directory is deleted the moment the query finishes buys
  * nothing with those writes. This provider is the same versioned-hash-map
  * semantics with the durability layer removed: `getStore(v)` clones the
  * committed map of version v (exactly the HDFS provider's load-and-copy),
  * `commit` publishes version v+1 in memory, task retries re-read any
  * retained version.
  *
  * What it deliberately does NOT support — every rejection is a path the
  * drains route to RocksDB instead (the production provider, kept as the
  * honesty gate by the `*_rocksdb` / TWS twins): column families, multiple
  * values per key, range scans (all transformWithState-only), and
  * checkpoint-v2 unique ids. Prefix scans (session-window state) ARE
  * supported via a two-level map, so `prefixScan` is an index lookup, not a
  * linear filter.
  *
  * Production boundary, stated plainly: state here lives and dies with the
  * executor JVM. A multi-node or fault-tolerant job (lost executor ⇒ lost
  * version history ⇒ query fails instead of recovering) or state larger
  * than heap belongs on the RocksDB provider. The drain scaffold selects
  * this class only when no provider is set explicitly on the session — see
  * `StatefulQueries.withDrainConf` — so pinning
  * `spark.sql.streaming.stateStore.providerClass` (the engine default
  * `HDFSBackedStateStoreProvider` included) keeps that provider for every
  * drain without touching query code. */
class GraftMemoryStateStoreProvider extends StateStoreProvider {
  import GraftMemoryStateStoreProvider._

  @volatile private var id: StateStoreId = _
  @volatile private var keySchema: StructType = _
  @volatile private var numColsPrefixKey: Int = 0

  /** version -> committed (prefix -> key -> value) map; version 0 is the
    * canonical empty state. ConcurrentHashMap because commit (task thread)
    * and maintenance/close (driver threads) may race. */
  private val versions = new ConcurrentHashMap[Long, StateMap]()

  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    require(!useColumnFamilies,
      s"$Name supports only the default column family; multi-family state " +
        "(transformWithState) must run on the RocksDB provider")
    require(!useMultipleValuesPerKey,
      s"$Name does not support multiple values per key (list state is " +
        "transformWithState-only; route it to the RocksDB provider)")
    require(!storeConfs.unloadOnCommit,
      s"$Name keeps state in provider memory across batches; " +
        "spark.sql.streaming.stateStore.unloadOnCommit=true would drop it")
    this.id = stateStoreId
    this.keySchema = keySchema
    this.numColsPrefixKey = keyStateEncoderSpec match {
      case NoPrefixKeyStateEncoderSpec(_) => 0
      case PrefixKeyScanStateEncoderSpec(_, n) => n
      case other => throw new UnsupportedOperationException(
        s"$Name does not support ${other.getClass.getSimpleName} " +
          "(range scans are transformWithState-only; use RocksDB)")
    }
    versions.putIfAbsent(0L, new StateMap)
  }

  override def stateStoreId: StateStoreId = id

  override def close(): Unit = versions.clear()

  override def getStore(version: Long, uniqueId: Option[String]): StateStore = {
    require(uniqueId.isEmpty,
      s"$Name does not support checkpoint-v2 unique ids")
    val base = versions.get(version)
    if (base == null) {
      throw new IllegalStateException(
        s"$Name $id: version $version not in memory " +
          s"(retained: ${versions.keySet()}); this provider cannot reload " +
          "state after JVM or provider loss — bounded single-JVM drains only")
    }
    new MemStore(version, base.cloned())
  }

  /** Bound retained history so a long-lived query cannot grow memory
    * without limit; drains commit a handful of versions and retries only
    * ever reach back a batch. */
  private def trimTo(newVersion: Long): Unit = {
    val it = versions.keySet().iterator()
    while (it.hasNext) { if (it.next() < newVersion - RetainedVersions) it.remove() }
  }

  private class MemStore(loadedVersion: Long, working: StateMap) extends StateStore {
    private val newVersion = loadedVersion + 1
    // UPDATING -> COMMITTED | ABORTED (the HDFS store's lifecycle)
    private var committed = false
    private var dead = false

    override def id: StateStoreId = stateStoreId
    override def version: Long = loadedVersion

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow =
      working.get(key)

    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] =
      Option(working.get(key)).iterator

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      verify(!committed && !dead, "cannot put after commit/abort")
      working.put(key, value)
    }

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
      verify(!committed && !dead, "cannot remove after commit/abort")
      working.remove(key)
    }

    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      new StateStoreIterator(working.iterator, () => ())

    override def prefixScan(prefixKey: UnsafeRow,
                            colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      verify(numColsPrefixKey > 0, "prefixScan requires a prefix-scan key encoder")
      new StateStoreIterator(working.prefixScan(prefixKey), () => ())
    }

    override def commit(): Long = {
      verify(!dead, "cannot commit an aborted store")
      if (!committed) {
        versions.put(newVersion, working)
        trimTo(newVersion)
        committed = true
      }
      newVersion
    }

    override def abort(): Unit = if (!committed) dead = true

    override def release(): Unit = ()

    override def metrics: StateStoreMetrics =
      StateStoreMetrics(working.numKeys, working.approxBytes, Map.empty)

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(stateStoreId.partitionId, newVersion, None, None)

    override def hasCommitted: Boolean = committed

    // ---- paths only reachable with column families / multi-values, both
    // rejected in init ----
    override def createColFamilyIfAbsent(colFamilyName: String, keySchema: StructType,
        valueSchema: StructType, keyStateEncoderSpec: KeyStateEncoderSpec,
        useMultipleValuesPerKey: Boolean, isInternal: Boolean): Unit =
      throw new UnsupportedOperationException(s"$Name: column families unsupported")
    override def removeColFamilyIfExists(colFamilyName: String): Boolean =
      throw new UnsupportedOperationException(s"$Name: column families unsupported")
    override def putList(key: UnsafeRow, values: Array[UnsafeRow],
        colFamilyName: String): Unit =
      throw new UnsupportedOperationException(s"$Name: multi-value state unsupported")
    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
      throw new UnsupportedOperationException(s"$Name: multi-value state unsupported")
    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow],
        colFamilyName: String): Unit =
      throw new UnsupportedOperationException(s"$Name: multi-value state unsupported")

    private def verify(cond: Boolean, msg: String): Unit =
      if (!cond) throw new IllegalStateException(s"$Name $id v$newVersion: $msg")
  }

  /** Two-level hash map (prefix -> key -> value) over copied UnsafeRows.
    * With no prefix encoder the outer level collapses to a single bucket
    * (EmptyPrefix), so gets stay two array lookups and `prefixScan` on
    * session-window state is an index hit instead of a full filter.
    * ConcurrentHashMap at both levels for the same reason the HDFS-backed
    * provider's map is one: watermark eviction REMOVES keys while
    * iterating the store (a plain HashMap iterator would throw
    * ConcurrentModificationException), and CHM's weakly-consistent
    * iterator is the documented-safe behavior operators rely on. */
  private class StateMap {
    private val outer =
      new ConcurrentHashMap[UnsafeRow, ConcurrentHashMap[UnsafeRow, UnsafeRow]]()
    // written by the task thread, read by progress reporting on others
    @volatile private var keys = 0L
    @volatile private var bytes = 0L

    // prefix projection over the leading key columns; built lazily per map
    // (UnsafeProjection is not thread-safe, and each store's tasks are
    // single-threaded over their map)
    private lazy val prefixProj: UnsafeProjection = UnsafeProjection.create(
      keySchema.fields.take(numColsPrefixKey).zipWithIndex.toIndexedSeq.map {
        case (f, i) => BoundReference(i, f.dataType, f.nullable)
      })

    private def prefixOf(key: UnsafeRow): UnsafeRow =
      if (numColsPrefixKey == 0) EmptyPrefix else prefixProj(key)

    def get(key: UnsafeRow): UnsafeRow = {
      val inner = outer.get(prefixOf(key))
      if (inner == null) null else inner.get(key)
    }

    def put(key: UnsafeRow, value: UnsafeRow): Unit = {
      val p = prefixOf(key)
      var inner = outer.get(p)
      if (inner == null) {
        inner = new ConcurrentHashMap[UnsafeRow, UnsafeRow]()
        outer.put(p.copy(), inner)
      }
      val prev = inner.put(key.copy(), value.copy())
      if (prev == null) { keys += 1; bytes += key.getSizeInBytes + value.getSizeInBytes }
      else bytes += value.getSizeInBytes - prev.getSizeInBytes
    }

    def remove(key: UnsafeRow): Unit = {
      val inner = outer.get(prefixOf(key))
      if (inner != null) {
        val prev = inner.remove(key)
        if (prev != null) { keys -= 1; bytes -= key.getSizeInBytes + prev.getSizeInBytes }
      }
    }

    def iterator: Iterator[UnsafeRowPair] = {
      import scala.jdk.CollectionConverters._
      val pair = new UnsafeRowPair()
      outer.values().asScala.iterator.flatMap(_.entrySet().asScala.iterator)
        .map(e => pair.withRows(e.getKey, e.getValue))
    }

    def prefixScan(prefixKey: UnsafeRow): Iterator[UnsafeRowPair] = {
      import scala.jdk.CollectionConverters._
      val inner = outer.get(prefixKey)
      if (inner == null) Iterator.empty
      else {
        val pair = new UnsafeRowPair()
        inner.entrySet().asScala.iterator.map(e => pair.withRows(e.getKey, e.getValue))
      }
    }

    def numKeys: Long = keys
    def approxBytes: Long = bytes

    /** Copy-on-load, exactly the HDFS provider's semantics: the working map
      * of version v+1 starts as a copy of v's committed map, so a committed
      * version is immutable however the next batch mutates its successor.
      * Rows inside are immutable by the put/remove copy discipline, so the
      * clone copies map structure only, not row bytes. */
    def cloned(): StateMap = {
      val c = new StateMap
      val it = outer.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        c.outer.put(e.getKey, new ConcurrentHashMap[UnsafeRow, UnsafeRow](e.getValue))
      }
      c.keys = keys
      c.bytes = bytes
      c
    }
  }
}

object GraftMemoryStateStoreProvider {
  private val Name = "GraftMemoryStateStoreProvider"
  /** Versions retained for task retries; a retry only ever replays the
    * current batch against its load version. */
  private val RetainedVersions = 8L
  /** Outer-map key when the store has no prefix encoder: one shared
    * zero-column row (all such lookups hash identically). */
  private val EmptyPrefix: UnsafeRow = {
    val p = UnsafeProjection.create(Array.empty[org.apache.spark.sql.types.DataType])
    p(org.apache.spark.sql.catalyst.InternalRow.empty).copy()
  }
}
