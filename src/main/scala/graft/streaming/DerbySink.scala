package graft.streaming

import java.sql.{Connection, DriverManager, SQLException, Types}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.ExpressionSet

/** S7/S8 — the "to-db" half (SURVEY.md §2.1, §2.11): a `foreachBatch`
  * JDBC sink that MERGEs each micro-batch into an embedded Derby table
  * keyed on `event_id`.
  *
  * Delivery contract = the reference's: the replayable file source plus
  * the streaming checkpoint give at-least-once; the idempotent per-key
  * MERGE upgrades it to effectively-exactly-once — a replayed batch
  * (e.g. after the S8 kill/restart) overwrites rows with identical
  * values instead of duplicating them.
  *
  * Derby (10.16, the one JDBC engine shipped with the Spark jars) is
  * single-JVM embedded — fine under local[*]; on a real cluster the same
  * `foreachBatch` body points at a networked RDBMS and partitions write
  * in parallel, which is why the write path is per-partition batched
  * JDBC, not a driver-side collect.
  */
object DerbySink {

  val TABLE = "events_sink"

  def connect(url: String): Connection = DriverManager.getConnection(url)

  /** One writer at a time per EMBEDDED database. Concurrent MERGE
    * connections into one embedded Derby can hang, not just error: the
    * index-statistics daemon's mid-recompile failure (the XJ001/NPE
    * family the chunked retry below absorbs) can unwind a writer while
    * it holds a page LATCH, and a leaked latch never times out — every
    * later writer parks in `BasePage.setExclusive` forever, which no
    * statement-level retry can recover (observed under a 4-task
    * foreachPartition MERGE of 30k rows). Embedded Derby is single-JVM
    * by definition, so a JVM-wide lock per database URL is sufficient
    * and costs a cluster nothing: a real deployment points at a
    * server-mode RDBMS (`jdbc:derby://host/…` or any other driver) whose
    * own lock manager handles concurrent writers — those URLs skip the
    * lock entirely and partitions write in parallel as designed.
    */
  private val embeddedWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withWriteLock[T](url: String)(body: => T): T =
    if (url.startsWith("jdbc:derby://")) body
    else embeddedWriteLocks.computeIfAbsent(url, _ => new Object).synchronized(body)

  /** The landed row of an event — the reference's event→row mapping:
    * the envelope flattened to the µs convention. `events_sink`,
    * [[DbResume]]'s sink and the routed tables all land this projection,
    * so their DDL is all derived from its schema by [[ensureTableFor]].
    */
  private[streaming] def envelope(events: DataFrame): DataFrame =
    events.select(col("event_id"), expr("ts div 1000").as("ts_us"),
      col("user_id"), col("event_type"), col("value"))

  /** Upserts one micro-batch of events into `events_sink` as envelope rows. */
  def upsertBatch(batch: DataFrame, url: String): Unit =
    upsertBatchAs(envelope(batch), url, TABLE, "event_id")

  /** Wires a staged event stream into the sink with a checkpoint — the
    * whole events-to-db pipeline (S1 source → S7 sink, resumable per S8).
    */
  def attach(events: DataFrame, url: String, checkpointDir: String): DataStreamWriter[Row] =
    attachAs(envelope(events), url, TABLE, "event_id", checkpointDir)

  // ------------- schema-derived sink (arbitrary SELECT projections) ------

  /** Spark column type → (Derby DDL type, JDBC bind type): the one
    * mapping the DDL and the MERGE binds both read. The reference lands
    * EXTRACTED payload fields as DB columns, not just the envelope, so
    * every sink table is derived from its DataFrame's own schema.
    */
  private def columnType(dt: DataType): (String, Int) = dt match {
    case LongType => ("BIGINT", Types.BIGINT)
    case IntegerType => ("INT", Types.INTEGER)
    case DoubleType => ("DOUBLE", Types.DOUBLE)
    case FloatType => ("REAL", Types.REAL)
    case BooleanType => ("BOOLEAN", Types.BOOLEAN)
    case StringType => ("VARCHAR(1024)", Types.VARCHAR)
    case TimestampType => ("TIMESTAMP", Types.TIMESTAMP)
    case other =>
      throw new IllegalArgumentException(s"unsupported sink column type $other")
  }

  /** Runs each CREATE TABLE, skipping tables that already exist (Derby
    * has no IF NOT EXISTS; SQLSTATE X0Y32 = exists).
    */
  private[streaming] def createIfAbsent(url: String, ddl: String*): Unit = {
    val c = connect(url)
    try {
      val st = c.createStatement()
      try ddl.foreach { sql =>
        try st.executeUpdate(sql)
        catch { case e: SQLException if e.getSQLState == "X0Y32" => () }
      } finally st.close()
    } finally c.close()
  }

  /** CREATE TABLE matching `schema` if absent, PRIMARY KEY on `key`. */
  def ensureTableFor(url: String, table: String, schema: StructType, key: String): Unit = {
    require(schema.fieldNames.contains(key), s"sink schema must carry key '$key'")
    val cols = schema.fields.map { f =>
      val pk = if (f.name == key) " PRIMARY KEY" else ""
      s"${f.name} ${columnType(f.dataType)._1}$pk"
    }.mkString(", ")
    createIfAbsent(url, s"CREATE TABLE $table ($cols)")
  }

  /** Schema-derived idempotent MERGE of one micro-batch into `table`,
    * keyed on `key` — the one JDBC write path of every sink table and of
    * [[DbResume]]'s OffsetMap: in-batch dedup by key unless the batch is
    * already unique on it, then per-partition batched MERGE in committed,
    * retried chunks under the write lock.
    */
  def upsertBatchAs(batch: DataFrame, url: String, table: String, key: String): Unit = {
    val schema = batch.schema
    val names = schema.fieldNames.toSeq
    val kIdx = names.indexOf(key)
    require(kIdx >= 0, s"sink batch must carry key '$key'")
    val others = names.filterNot(_ == key)
    val updates =
      if (others.isEmpty) "" // key-only table: nothing to update on match
      else "WHEN MATCHED THEN UPDATE SET " + others.map(n => s"$n = ?").mkString(", ") + "\n"
    val mergeSql =
      s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1
         |ON t.$key = ?
         |$updates
         |WHEN NOT MATCHED THEN INSERT (${names.mkString(", ")})
         |  VALUES (${names.map(_ => "?").mkString(", ")})""".stripMargin
    val types = schema.fields.map(f => columnType(f.dataType)._2)
    val otherIdx = others.map(names.indexOf).toArray // once, not per row
    // in-batch dedup by key, skipped when the plan already proves the key
    // unique (an aggregate grouped by it, like DbResume's OffsetMap
    // advance): a redundant dedup is one more hash aggregate whose memory
    // the task holds for as long as it writes
    val plan = batch.queryExecution.analyzed
    val keyAttr = ExpressionSet(plan.output.filter(_.name == key))
    val rows =
      if (plan.distinctKeys.exists(ks => ks.nonEmpty && ks.subsetOf(keyAttr))) batch
      else batch.dropDuplicates(key)
    rows.foreachPartition { it: Iterator[Row] =>
      if (it.hasNext) withWriteLock(url) {
        var c = connect(url)
        try {
          // inside the try: a session-severity error between connect and
          // setAutoCommit would otherwise leak the connection
          c.setAutoCommit(false)
          // Rows are buffered in 500-row chunks and each chunk's MERGE is
          // committed and RETRIED on transient failure: embedded Derby
          // invalidates prepared MERGE plans when its background index-
          // statistics daemon fires as the table grows, and a batch
          // executing concurrently on another connection can then hit an
          // internal XJ001/NPE mid-recompile — a SESSION-severity error
          // that also kills the connection, hence the reconnect below.
          // The keyed MERGE is idempotent, so replaying the chunk on a
          // fresh statement is always safe (the same argument that makes
          // whole-task and whole-batch replays safe).
          val chunk = new scala.collection.mutable.ArrayBuffer[Row](500)
          def flush(): Unit = if (chunk.nonEmpty) {
            var attempt = 0
            var done = false
            while (!done) {
              try {
                val ps = c.prepareStatement(mergeSql)
                try {
                  def set(pos: Int, r: Row, i: Int): Unit =
                    if (r.isNullAt(i)) ps.setNull(pos, types(i))
                    else ps.setObject(pos, r.get(i), types(i))
                  chunk.foreach { r =>
                    var pos = 1
                    set(pos, r, kIdx); pos += 1
                    otherIdx.foreach { i => set(pos, r, i); pos += 1 }
                    names.indices.foreach { i => set(pos, r, i); pos += 1 }
                    ps.addBatch()
                  }
                  ps.executeBatch()
                  c.commit()
                  done = true
                } finally {
                  try ps.close() catch { case _: SQLException => () }
                }
              } catch {
                case _: SQLException if attempt < 3 =>
                  attempt += 1
                  try { if (!c.isClosed) c.rollback() }
                  catch { case _: SQLException => () }
                  if (c.isClosed) { c = connect(url); c.setAutoCommit(false) }
              }
            }
            chunk.clear()
          }
          it.foreach { r => chunk += r; if (chunk.size >= 500) flush() }
          flush()
        } finally {
          try c.close() catch { case _: SQLException => () }
        }
      }
    }
  }

  /** Attaches an arbitrary projected stream to a schema-derived table. */
  def attachAs(out: DataFrame, url: String, table: String, key: String,
               checkpointDir: String): DataStreamWriter[Row] = {
    ensureTableFor(url, table, out.schema, key)
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => upsertBatchAs(batch, url, table, key) }
  }
}
