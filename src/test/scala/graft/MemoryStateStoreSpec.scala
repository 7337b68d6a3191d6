package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Focused gate for the r20 drain state-store swap: every state shape the
  * memory-sink drains route through GraftMemoryStateStoreProvider must
  * produce EXACTLY the engine-default provider's rows — the provider is an
  * I/O-layer change and may not alter a single value. One representative
  * query per state shape:
  *  - flatMapGroupsWithState keyed fold (q1r)
  *  - event-time TTL expiry through watermark eviction (dedup ttl)
  *  - stream-stream symmetric hash join, 4 stores per partition per side (q23ss)
  *  - session-window aggregation, the PREFIX-SCAN store (q13ns)
  *  - windowed aggregation with watermark-closed emission (dau closed)
  * Also pins the pinned-provider guard: a drain under
  * withRocksDbStateStore must NOT be re-routed to the memory provider
  * (the *_rocksdb twins are the production-provider honesty gate), and
  * neither may a drain whose caller explicitly set the engine default. */
class MemoryStateStoreSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def compare(query: String): Unit = {
    spark.conf.set("spark.graft.drain.stateStoreProvider", "engine")
    val engine = try rowsOf(SparkEntry.queries(query)(spark, sfDir))
    finally spark.conf.unset("spark.graft.drain.stateStoreProvider")
    // default mode = memory provider
    val memory = rowsOf(SparkEntry.queries(query)(spark, sfDir))
    assert(memory == engine, s"$query: memory-provider rows diverge from engine provider")
    assert(memory.nonEmpty, s"$query: vacuous comparison")
  }

  test("fMGWS keyed fold: q1r identical on both providers") {
    compare("q1r_running_max_streaming")
  }

  test("event-time TTL eviction: identical on both providers") {
    compare("dedup_exact_ttl_streaming")
  }

  test("stream-stream join state: q23ss identical on both providers") {
    compare("q23ss_interval_join_streaming")
  }

  test("session-window prefix-scan state: q13ns identical on both providers") {
    compare("q13ns_sessionize_native_streaming")
  }

  test("watermark-closed windowed aggregation: identical on both providers") {
    compare("dau_daily_closed_streaming")
  }

  test("pinned RocksDB drains stay on RocksDB (provider guard)") {
    // the rocksdb twin pins the provider BEFORE the drain; the drain hook
    // must see a non-default provider and leave it alone — proven by the
    // query running green (the memory provider would throw on the TWS
    // path) and by the conf being restored afterwards
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    SparkEntry.queries("q1rdb_running_max_rocksdb")(spark, sfDir).count()
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass") == before,
      "provider conf leaked out of the RocksDB twin")
  }

  /** Custom state-store metric names the streaming queries of `query`
    * reported: the engine's HDFS-backed provider reports its map-cache
    * counters, the memory provider reports none. */
  private def stateMetricNames(query: String): Set[String] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    // only queries started after registration count: a late event of an
    // earlier suite's query must not end the wait early
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = mine.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (mine.contains(e.progress.id))
          e.progress.stateOperators.foreach(op => seen.addAll(op.customMetrics.keySet()))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (mine.contains(e.id)) ended.incrementAndGet()
    }
    spark.streams.addListener(l)
    try {
      SparkEntry.queries(query)(spark, sfDir).count()
      // listener events are delivered asynchronously, in order per listener
      val deadline = System.nanoTime() + 60000000000L
      while (ended.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(ended.get() > 0, s"$query: no streaming query terminated")
    } finally spark.streams.removeListener(l)
    seen.asScala.toSet
  }

  test("a drain keeps an explicitly pinned HDFSBackedStateStoreProvider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    assert(!stateMetricNames("q1r_running_max_streaming").contains("loadedMapCacheHitCount"),
      "unpinned drain should run on the memory provider")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try {
      assert(stateMetricNames("q1r_running_max_streaming").contains("loadedMapCacheHitCount"),
        "the drain swapped out an explicitly pinned engine-default provider")
      assert(spark.conf.getAll.get(key).exists(_.endsWith("HDFSBackedStateStoreProvider")))
    } finally spark.conf.unset(key)
  }
}
