package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase._

/** EP-3 resume-from-the-database: after a full run, the DB's OffsetMap
  * must equal each stream's max landed event_id; a complete replay with
  * a FRESH Spark checkpoint must land ZERO fresh rows (the resume point
  * is provable from the database alone, not Spark's checkpoint) while
  * the sink stays complete and duplicate-free; and a genuinely NEW late
  * event below its stream's watermark must still be INSERTed — the
  * watermark classifies, the keyed MERGE decides.
  */
class DbResumeSpec extends AnyFunSuite {

  test("OffsetMap lives in the DB; a fresh-checkpoint replay writes nothing") {
    val url = s"jdbc:derby:${tmpDir("graft-dbresume")}/db;create=true"
    val staging = tmpDir("graft-dbresume-stage")
    EventStream.stage(spark, sf0001, staging, chunks = 3)

    val q1 = DbResume.attach(spark, staging, url,
      tmpDir("graft-dbresume-ckpt1"), runId = "run1").start()
    try q1.processAllAvailable() finally q1.stop()

    val events = graft.sources.Tables.events(spark, sf0001)
    val total = events.count()
    assert(DbResume.rowsWritten(url) == total, "first run must write every event")

    // the stored OffsetMap == per-stream max event_id
    val wantOffsets = events.groupBy("user_id").agg(max("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(DbResume.readOffsets(url) == wantOffsets)

    // full replay, FRESH checkpoint: Spark re-delivers everything; the
    // DB OffsetMap must suppress every row before the sink
    val q2 = DbResume.attach(spark, staging, url,
      tmpDir("graft-dbresume-ckpt2"), runId = "run2").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(DbResume.rowsWritten(url) == total,
      "replay counted fresh rows despite the DB OffsetMap lowerBound")

    // and the landed table is complete and duplicate-free
    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM ${DbResume.SINK}")
      rs.next()
      assert(rs.getLong(1) == total && rs.getLong(2) == total)
    } finally c.close()

    // a genuinely NEW late event (id below its stream's watermark — the
    // cross-batch gossip case) must still land: classification must
    // never become suppression of unseen data
    val sparkS = spark
    import sparkS.implicits._
    Seq((-42L, 0L, 0L, "late", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(staging)
    val q3 = DbResume.attach(spark, staging, url,
      tmpDir("graft-dbresume-ckpt3"), runId = "run3").start()
    try q3.processAllAvailable() finally q3.stop()
    val c2 = DerbySink.connect(url)
    try {
      val rs = c2.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM ${DbResume.SINK} WHERE event_id = -42")
      rs.next()
      assert(rs.getLong(1) == 1L, "late new event was dropped by the watermark")
    } finally c2.close()
    assert(DbResume.rowsWritten(url) == total,
      "a below-watermark event must not count as fresh")
  }

  test("the landing protocol stays driver-bounded at an adversarial stream count") {
    // every row its OWN stream: the OffsetMap grows to the full batch
    // cardinality, so (a) the lowerBound side must be the distributed
    // JDBC-scan join, not a driver collect+broadcast, and (b) the advance
    // MERGEs 30k per-stream maxima from executors in many committed
    // chunks — nothing on the driver scales with the stream count
    val url = s"jdbc:derby:${tmpDir("graft-dbresume-wide")}/db;create=true"
    val n = 30000L
    val wide = spark.range(n).select(
      col("id").as("event_id"),
      (col("id") * 1000L).as("ts_us"),
      col("id").as("user_id"),
      lit("wide").as("event_type"),
      lit(1.0).as("value"))
    DbResume.ensureAux(url)
    DerbySink.ensureTableFor(url, DbResume.SINK, wide.schema, "event_id")
    DbResume.landBatch(wide, url, "wide-0")
    assert(DbResume.rowsWritten(url) == n)
    assert(DbResume.readOffsets(url).size == n.toInt,
      "OffsetMap must hold one row per stream")
    // full replay: every stream is now in the map, zero rows are fresh
    DbResume.landBatch(wide, url, "wide-1")
    assert(DbResume.rowsWritten(url) == n,
      "replay against a wide OffsetMap must classify everything as seen")
  }

  test("a batch replayed after a crash between rows-MERGE and recordStat still reports the true fresh count") {
    val url = s"jdbc:derby:${tmpDir("graft-dbresume-crash")}/db;create=true"
    val events = EventStream.withEventTime(graft.sources.Tables.events(spark, sf0001))
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    val total = events.count()
    val mid = events.agg(expr("percentile_approx(event_id, 0.5)")).head().getLong(0)
    val batch1 = events.filter(col("event_id") <= mid)
    val batch2 = events.filter(col("event_id") > mid)
    val n2 = batch2.count()

    DbResume.ensureAux(url)
    DerbySink.ensureTableFor(url, DbResume.SINK, batch1.schema, "event_id")
    DbResume.landBatch(batch1, url, "crash-0")
    assert(DbResume.rowsWritten(url) == total - n2)

    // crash between rows-MERGE and recordStat: batch2's rows land but
    // neither the stat nor the OffsetMap advance happened
    DerbySink.upsertBatchAs(batch2, url, DbResume.SINK, "event_id")
    assert(DbResume.rowsWritten(url) == total - n2, "crashed batch must not have counted yet")

    // the re-delivered batch recomputes its fresh count against the
    // un-advanced watermark — the true n2, not zero
    DbResume.landBatch(batch2, url, "crash-1")
    assert(DbResume.rowsWritten(url) == total,
      "replayed batch after a pre-stat crash must recover its true fresh count")

    // a second full replay (crash after everything landed) recomputes
    // fresh = 0; the max-keeping stat MERGE must not regress the count
    DbResume.landBatch(batch2, url, "crash-1")
    assert(DbResume.rowsWritten(url) == total,
      "post-advance replay overwrote the recorded count with zero")
  }

  test("a batch replayed after a crash part-way through the OffsetMap advance lands completely") {
    val url = s"jdbc:derby:${tmpDir("graft-dbresume-partial")}/db;create=true"
    val events = DerbySink.envelope(graft.sources.Tables.events(spark, sf0001))
    val total = events.count()
    val mid = events.agg(expr("percentile_approx(event_id, 0.5)")).head().getLong(0)
    val batch1 = events.filter(col("event_id") <= mid)
    val batch2 = events.filter(col("event_id") > mid)
    val n2 = batch2.count()

    DbResume.ensureAux(url)
    DerbySink.ensureTableFor(url, DbResume.SINK, events.schema, "event_id")
    DbResume.landBatch(batch1, url, "partial-0")

    // crash part-way through batch 2's advance: its rows and its stat
    // landed (every batch-2 id is above batch 1's, so all n2 are fresh),
    // but only the even streams' maxima reached OFFSETS
    DerbySink.upsertBatchAs(batch2, url, DbResume.SINK, "event_id")
    DbResume.recordStat(url, "partial-1", n2)
    val maxima2 = batch2.groupBy(col("user_id").as("stream_id"))
      .agg(max("event_id").as("last_off"))
    val advanced = maxima2.filter(col("stream_id") % 2 === 0)
    assert(advanced.count() > 0 && advanced.count() < maxima2.count(),
      "the crash must leave some streams advanced and some not")
    DerbySink.upsertBatchAs(advanced, url, DbResume.OFFSETS, "stream_id")

    // the re-delivered batch finishes the advance; the max-keeping stat
    // MERGE keeps the pre-crash count over the replay's smaller one
    DbResume.landBatch(batch2, url, "partial-1")
    assert(DbResume.rowsWritten(url) == total)
    val wantOffsets = events.groupBy("user_id").agg(max("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(DbResume.readOffsets(url) == wantOffsets)
    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM ${DbResume.SINK}")
      rs.next()
      assert(rs.getLong(1) == total && rs.getLong(2) == total)
    } finally c.close()
  }
}
