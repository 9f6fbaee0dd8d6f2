package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase._
import graft.aql.Aql
import graft.operators.Filters

/** The complete reference workflow end-to-end: an AQL subscription over
  * the staged event stream, landed in Derby through the idempotent MERGE
  * sink. The landed table must equal the same AQL selection computed in
  * one batch pass — and a replay of the whole stream must leave it
  * unchanged (at-least-once → effectively-exactly-once).
  */
class AqlPipelineSpec extends AnyFunSuite {

  private val AQL = "FROM 'purchase' | 'signup' FILTER _.value > 50"

  test("AQL subscription lands exactly the batch-AQL selection in Derby") {
    val url = s"jdbc:derby:${tmpDir("graft-aqlpipe")}/db;create=true"
    val staging = tmpDir("graft-aqlpipe-stage")
    EventStream.stage(spark, sf0001, staging, chunks = 3)

    val q = AqlPipeline.attach(spark, staging, AQL, url,
      tmpDir("graft-aqlpipe-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val landed = {
      val c = DerbySink.connect(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT event_id, value FROM ${DerbySink.TABLE}")
        val b = Map.newBuilder[Long, Double]
        while (rs.next()) b += rs.getLong(1) -> rs.getDouble(2)
        b.result()
      } finally c.close()
    }

    val want = Filters.withTags(EventStream.readBatch(spark, staging))
      .filter(Aql.predicate(AQL))
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(want.nonEmpty)
    assert(landed == want, s"landed ${landed.size} rows, batch AQL says ${want.size}")

    // full replay (fresh checkpoint, same data) must not change the table
    val q2 = AqlPipeline.attach(spark, staging, AQL, url,
      tmpDir("graft-aqlpipe-ckpt2")).start()
    try q2.processAllAvailable() finally q2.stop()
    val c = DerbySink.connect(url)
    val n = try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM ${DerbySink.TABLE}")
      rs.next(); rs.getLong(1)
    } finally c.close()
    assert(n == want.size, "replay duplicated rows")
  }

  test("from()/to() bounds run end-to-end on the sink path — per-row " +
       "residual predicates on the stream (VERDICT r11 #5)") {
    // on the SINK path bounds evaluate per-row (Aql.lowerTag's residual
    // lowering), not as a scan prune — the rationale is documented at
    // Aql.predicate. This case pins the semantics: the landed table is
    // exactly the batch-AQL selection, and the bounds genuinely cut.
    val boundsAql = "FROM ('purchase' | 'signup') & from(2024-01-03) & " +
      "to(2024-01-15) FILTER _.value > 50"
    val url = s"jdbc:derby:${tmpDir("graft-aqlpipe-bounds")}/db;create=true"
    val staging = tmpDir("graft-aqlpipe-bounds-stage")
    EventStream.stage(spark, sf0001, staging, chunks = 3)

    val q = AqlPipeline.attach(spark, staging, boundsAql, url,
      tmpDir("graft-aqlpipe-bounds-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val landed = {
      val c = DerbySink.connect(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT event_id FROM ${DerbySink.TABLE}")
        val b = Set.newBuilder[Long]
        while (rs.next()) b += rs.getLong(1)
        b.result()
      } finally c.close()
    }

    val batch = Filters.withTags(EventStream.readBatch(spark, staging))
    val want = batch.filter(Aql.predicate(boundsAql))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val unbounded = batch.filter(Aql.predicate(
        "FROM ('purchase' | 'signup') FILTER _.value > 50"))
      .select("event_id").collect().map(_.getLong(0)).toSet

    assert(want.nonEmpty, "bounds selected nothing — fixture drift?")
    assert(want.size < unbounded.size, "bounds did not cut the selection")
    assert(landed == want, s"landed ${landed.size} rows, batch AQL says ${want.size}")
  }

  test("SELECT projections land as schema-derived typed columns") {
    val url = s"jdbc:derby:${tmpDir("graft-aqlsel")}/db;create=true"
    val staging = tmpDir("graft-aqlsel-stage")
    EventStream.stage(spark, sf0001, staging, chunks = 2)
    // the reference's event→row mapping: payload field k (with the null
    // fallback) and a computed value land as DB columns
    val aql = "FROM 'purchase' SELECT _.user_id, _.value * 2, _.k ?? -1"

    val q = AqlPipeline.attach(spark, staging, aql, url,
      tmpDir("graft-aqlsel-ckpt"), table = "purchase_rows").start()
    try q.processAllAvailable() finally q.stop()

    val landed = {
      val c = DerbySink.connect(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT event_id, user_id, expr1, k FROM purchase_rows")
        val b = Map.newBuilder[Long, (Long, Double, Long)]
        while (rs.next())
          b += rs.getLong(1) -> ((rs.getLong(2), rs.getDouble(3), rs.getLong(4)))
        b.result()
      } finally c.close()
    }

    val want = Aql.sinkProjection(
      Filters.withTags(EventStream.readBatch(spark, staging)), aql)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(want.nonEmpty)
    assert(landed == want,
      s"landed ${landed.size} projected rows, batch says ${want.size}")
  }

  test("routed sink lands each tag's events in its own table, idempotently") {
    val url = s"jdbc:derby:${tmpDir("graft-aqlroute")}/db;create=true"
    val staging = tmpDir("graft-aqlroute-stage")
    EventStream.stage(spark, sf0001, staging, chunks = 2)

    val q = AqlPipeline.attachRouted(spark, staging, url,
      tmpDir("graft-aqlroute-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val byType = graft.sources.Tables.events(spark, sf0001)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.size >= 2)

    val c = DerbySink.connect(url)
    try byType.foreach { case (t, n) =>
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*), COUNT(DISTINCT event_type) FROM route_$t")
      rs.next()
      assert(rs.getLong(1) == n, s"route_$t row count")
      assert(rs.getLong(2) == 1, s"route_$t holds foreign types")
    } finally c.close()

    // replay: fresh checkpoint, same data → tables unchanged (MERGE)
    val q2 = AqlPipeline.attachRouted(spark, staging, url,
      tmpDir("graft-aqlroute-ckpt2")).start()
    try q2.processAllAvailable() finally q2.stop()
    val c2 = DerbySink.connect(url)
    try byType.foreach { case (t, n) =>
      val rs = c2.createStatement().executeQuery(s"SELECT COUNT(*) FROM route_$t")
      rs.next()
      assert(rs.getLong(1) == n, s"route_$t duplicated on replay")
    } finally c2.close()
  }

  test("the JSON wire format feeds the same AQL subscription, corrupt lines and all") {
    val url = s"jdbc:derby:${tmpDir("graft-aqljson")}/db;create=true"
    val dir = tmpDir("graft-aqljson-stage")
    graft.sources.Tables.events(spark, sf0001)
      .coalesce(2).write.mode("append").json(dir)
    // a producer bug in the stream must not fail or pollute the landing
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bad.json"),
      "{\"event_id\": 999999, \"broken\n".getBytes("UTF-8"))

    val q = AqlPipeline.attachJson(spark, dir, AQL, url,
      tmpDir("graft-aqljson-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val landed = {
      val c = DerbySink.connect(url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT event_id, value FROM ${DerbySink.TABLE}")
        val b = Map.newBuilder[Long, Double]
        while (rs.next()) b += rs.getLong(1) -> rs.getDouble(2)
        b.result()
      } finally c.close()
    }
    val want = Filters.withTags(
      EventStream.withEventTime(graft.sources.Tables.events(spark, sf0001)))
      .filter(Aql.predicate(AQL))
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(want.nonEmpty)
    assert(landed == want,
      s"JSON-fed landing ${landed.size} rows, batch AQL says ${want.size}")
    assert(!landed.contains(999999L), "the corrupt line leaked into the sink")
  }

  test("a no-SELECT subscription lands an 80-character event_type in events_sink") {
    // events_sink's DDL is derived from the landed envelope's schema like
    // every other sink table's, so its strings are VARCHAR(1024) too
    val url = s"jdbc:derby:${tmpDir("graft-aqlwidetag")}/db;create=true"
    val staging = tmpDir("graft-aqlwidetag-stage")
    val tag = "t" * 80
    val sparkS = spark
    import sparkS.implicits._
    Seq((7L, 1000L, 3L, tag, 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(staging)

    val q = AqlPipeline.attach(spark, staging, "FROM allEvents", url,
      tmpDir("graft-aqlwidetag-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT event_id, event_type FROM ${DerbySink.TABLE}")
      assert(rs.next(), "the event did not land")
      assert(rs.getLong(1) == 7L && rs.getString(2) == tag)
      assert(!rs.next())
      val cols = c.getMetaData.getColumns(null, null,
        DerbySink.TABLE.toUpperCase, "EVENT_TYPE")
      assert(cols.next())
      assert(cols.getInt("COLUMN_SIZE") == 1024)
    } finally c.close()
  }

  test("AGGREGATE is rejected on the sink path; predicate() also rejects SELECT") {
    val tagged = Filters.withTags(EventStream.readBatch(spark, {
      val d = tmpDir("graft-aqlrej"); EventStream.stage(spark, sf0001, d, 1); d
    }))
    intercept[IllegalArgumentException](
      Aql.sinkProjection(tagged, "FROM 'a' AGGREGATE SUM(_.value)"))
    intercept[IllegalArgumentException](Aql.predicate("FROM 'a' SELECT _.value"))
    intercept[IllegalArgumentException](Aql.predicate("FROM 'a' AGGREGATE SUM(_.value)"))
  }
}
