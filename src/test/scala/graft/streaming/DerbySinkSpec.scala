package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase._

/** S7/S8 (SURVEY.md §5.4): the Derby `foreachBatch` MERGE sink is
  * idempotent per key, and a killed-and-restarted query resumes from its
  * checkpoint with no loss and no duplication — the reference's
  * OffsetMap-in-the-same-transaction contract, re-expressed as
  * checkpoint + idempotent upsert.
  */
class DerbySinkSpec extends AnyFunSuite {

  private def derbyUrl(): String =
    s"jdbc:derby:${tmpDir("graft-derby")}/db;create=true"

  private def tableState(url: String): (Long, Double) = {
    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*), SUM(value) FROM ${DerbySink.TABLE}")
      rs.next()
      (rs.getLong(1), rs.getDouble(2))
    } finally c.close()
  }

  test("S7: batch upsert is idempotent — replay leaves the table unchanged") {
    val url = derbyUrl()
    val events = graft.sources.Tables.events(spark, sf0001)
    DerbySink.ensureTableFor(url, DerbySink.TABLE,
      DerbySink.envelope(events).schema, "event_id")
    DerbySink.upsertBatch(events, url)
    val first = tableState(url)
    DerbySink.upsertBatch(events, url) // at-least-once redelivery
    val second = tableState(url)
    assert(first == second, "replayed batch changed the table")
    val want = events.agg(count(lit(1)), sum("value")).collect()(0)
    assert(first._1 == want.getLong(0))
    assert(math.abs(first._2 - want.getDouble(1)) <= 1e-6)
  }

  test("S8: kill/restart resumes from checkpoint with no loss, no dup") {
    val url = derbyUrl()
    val stagingDir = tmpDir("graft-s8-stage")
    val checkpoint = tmpDir("graft-s8-ckpt")
    val events = graft.sources.Tables.events(spark, sf0001)
    val half = events.agg(expr("percentile(event_id, 0.5)")).collect()(0).getDouble(0).toLong

    // phase 1: stage the first half, run, then KILL the query
    events.filter(col("event_id") <= half)
      .repartitionByRange(2, col("ts"), col("event_id"))
      .write.mode("append").parquet(stagingDir)
    val q1 = DerbySink.attach(EventStream.read(spark, stagingDir), url, checkpoint).start()
    try q1.processAllAvailable() finally q1.stop()
    val (n1, _) = tableState(url)
    assert(n1 > 0 && n1 < events.count(), "phase 1 should land a strict subset")

    // phase 2: remaining events arrive while the pipeline is down
    events.filter(col("event_id") > half)
      .repartitionByRange(2, col("ts"), col("event_id"))
      .write.mode("append").parquet(stagingDir)

    // phase 3: NEW query, SAME checkpoint — resumes past phase-1 files
    val q2 = DerbySink.attach(EventStream.read(spark, stagingDir), url, checkpoint).start()
    try q2.processAllAvailable() finally q2.stop()

    val (n2, s2) = tableState(url)
    val want = events.agg(count(lit(1)), sum("value")).collect()(0)
    assert(n2 == want.getLong(0), "loss or duplication across restart")
    assert(math.abs(s2 - want.getDouble(1)) <= 1e-6)

    // phase 4: full re-delivery from a FRESH checkpoint — idempotent sink
    // absorbs the duplicate replay (effectively-exactly-once end to end)
    val q3 = DerbySink.attach(EventStream.read(spark, stagingDir), url,
      tmpDir("graft-s8-ckpt2")).start()
    try q3.processAllAvailable() finally q3.stop()
    assert(tableState(url) == ((n2, s2)), "replay from scratch changed the table")
  }
}
