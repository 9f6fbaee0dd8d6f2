package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.aql.Aql
import graft.operators.Filters

/** The reference's entire job in one call (SURVEY §0.1): run an **AQL
  * subscription** against the event stream and land each selected event
  * as a row in a SQL database, checkpointed so a restart resumes where
  * it left off.
  *
  * Composition of already-proven parts, no new machinery: the S1
  * micro-batch source, the derived tag-SET view ([[Filters.withTags]]),
  * the AQL front-end's FROM/FILTER lowering ([[Aql.predicate]] — a plain
  * Catalyst boolean, so it runs identically on the stream), and the
  * S7/S8 idempotent Derby MERGE sink. The landed row is the flattened
  * envelope (the events-to-db event→row mapping); at-least-once delivery
  * from the checkpointed source is upgraded to effectively-exactly-once
  * by the keyed MERGE.
  */
object AqlPipeline {

  /** Attaches `aql`'s FROM/FILTER selection of the staged stream to the
    * Derby sink. Start the returned writer, then `processAllAvailable()`.
    * Without SELECT the envelope lands in the standard `events_sink`
    * table; with SELECT the landed table (`table`) is derived from the
    * projection's own schema — payload fields become typed DB columns,
    * the reference's event→row mapping.
    */
  def attach(spark: SparkSession, stagingDir: String, aql: String,
             url: String, checkpointDir: String,
             table: String = "aql_sink"): DataStreamWriter[Row] =
    attachSource(EventStream.read(spark, stagingDir), aql, url,
      checkpointDir, table)

  /** [[attach]] over the JSON wire format ([[graft.sources.EventJson]]) —
    * the reference's literal deployment: subscribe to JSON envelopes,
    * select with AQL, land rows in the DB. Malformed lines are excluded
    * before the sink (no key to MERGE on) and stay countable upstream
    * via `EventJson.rejects`; they never fail the subscription.
    */
  def attachJson(spark: SparkSession, jsonDir: String, aql: String,
                 url: String, checkpointDir: String,
                 table: String = "aql_sink"): DataStreamWriter[Row] = {
    import graft.sources.EventJson
    // parseable-but-keyless envelopes (valid JSON, no event_id) are as
    // unlandable as corrupt lines: a NULL MERGE key either kills the
    // query on a PK violation or re-inserts on every replay. Exclude
    // them here; they stay countable upstream like any bad-producer row.
    val keyed = EventJson.wellFormed(EventJson.readStream(spark, jsonDir))
      .filter(col("event_id").isNotNull)
    attachSource(EventStream.withEventTime(keyed), aql, url, checkpointDir, table)
  }

  private def attachSource(events: DataFrame, aql: String, url: String,
                           checkpointDir: String,
                           table: String): DataStreamWriter[Row] = {
    val src = Filters.withTags(events)
    if (Aql.parse(aql).select.isEmpty)
      DerbySink.attach(src.filter(Aql.predicate(aql)), url, checkpointDir)
    else
      DerbySink.attachAs(Aql.sinkProjection(src, aql), url, table,
        "event_id", checkpointDir)
  }

  /** Per-tag table ROUTING (SURVEY §2.1 q04's streaming half): the
    * reference can land each tag's events in its own destination table.
    * Each micro-batch is split by `event_type` — a handful of routes,
    * enumerated from the batch itself — and each slice MERGEs into
    * `<prefix><type>` with the same idempotent keyed write. Routes are
    * created on first sight, so a new tag needs no DDL migration. The
    * split costs one narrow distinct over the micro-batch (bounded by
    * the tag vocabulary), then per-route filters over the cached batch.
    */
  def attachRouted(spark: SparkSession, stagingDir: String, url: String,
                   checkpointDir: String,
                   prefix: String = "route_"): DataStreamWriter[Row] = {
    DerbySink.envelope(EventStream.read(spark, stagingDir)).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          // the driver sees only the distinct tag list (metadata-scale,
          // bounded by the tag vocabulary) — never event rows
          val routes = batch.select("event_type").distinct()
            .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
            .sortBy(t => Option(t).getOrElse(""))
          routes.foreach { t =>
            // table names are DATA-derived → sanitize to a safe Derby
            // identifier (null/empty/symbols → '_'); the row itself still
            // carries the raw event_type, so collisions lose no data
            val safe = Option(t).getOrElse("null")
              .replaceAll("[^A-Za-z0-9_]", "_") match {
              case "" => "_"
              case x => x
            }
            val pred =
              if (t == null) col("event_type").isNull
              else col("event_type") === t
            DerbySink.ensureTableFor(url, prefix + safe, batch.schema, "event_id")
            DerbySink.upsertBatchAs(batch.filter(pred), url, prefix + safe, "event_id")
          }
        } finally batch.unpersist()
      }
  }
}
