package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** EP-3's literal resume mechanism (SURVEY §3.1): the reference keeps
  * its OffsetMap IN the target database — each landed batch advances the
  * per-stream progress row, and a restarted tool reads that map back as
  * its subscription lowerBound. Here the same contract: the `OFFSETS`
  * table holds each stream's highest landed `event_id` (the lamport key
  * is the per-stream progress marker), advanced after each batch's rows
  * MERGE, and readable by any restarted consumer.
  *
  * Delivery semantics: EVERY row goes through the idempotent keyed MERGE
  * — correctness never depends on the watermark, so a genuinely new
  * late event (an event_id below its stream's landed maximum, the
  * cross-batch gossip case S10's timeTravel models) is still INSERTed,
  * never silently dropped. The OffsetMap classifies rows instead: rows
  * above their stream's watermark are FRESH (counted in `STATS` and the
  * watermark advances); rows at-or-below are replay-or-late (MERGE
  * absorbs replays as no-ops, inserts true late arrivals). A restart
  * with a FRESH Spark checkpoint re-delivers everything and the stats
  * show zero fresh rows — the DB state alone proves the resume point;
  * the Spark checkpoint only avoids re-reading files.
  *
  * The OffsetMap is one row per stream — metadata-scale relative to the
  * events, but not bounded by contract: a batch may touch millions of
  * streams. So the landing protocol never materializes it on the driver:
  * the lowerBound side is a JDBC scan joined distributively, and the
  * per-stream maxima are MERGEd into `OFFSETS` by executors through
  * [[DerbySink.upsertBatchAs]] — the same chunked, retried, write-locked
  * writer as the rows. ([[readOffsets]] does collect the map — it is the
  * restart-inspection API, for tests and operators, not part of the
  * per-batch path.)
  *
  * Rows, the fresh-count stat and the offsets are three separate
  * commits, in that order, not one transaction (executors each hold
  * their own JDBC connection). Every crash point is still recoverable,
  * because each step is idempotent: a crash re-delivers the batch,
  * replayed rows MERGE as no-ops, the stat MERGE keeps the larger count,
  * and the offsets advance is last, so a fresh count is never computed
  * against a watermark the rows haven't reached. A crash mid-advance
  * leaves some streams advanced; the replay counts only the others' rows
  * as fresh, and offsets are monotonic maxima.
  */
object DbResume {

  val SINK = "resume_sink"
  val OFFSETS = "graft_offsets"
  val STATS = "graft_batch_stats"

  private[streaming] def ensureAux(url: String): Unit =
    DerbySink.createIfAbsent(url,
      s"CREATE TABLE $OFFSETS (stream_id BIGINT PRIMARY KEY, last_off BIGINT)",
      s"CREATE TABLE $STATS (batch_key VARCHAR(255) PRIMARY KEY, n_written BIGINT)")

  /** The OffsetMap as stored in the DB. */
  def readOffsets(url: String): Map[Long, Long] = {
    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT stream_id, last_off FROM $OFFSETS")
      val b = Map.newBuilder[Long, Long]
      while (rs.next()) b += rs.getLong(1) -> rs.getLong(2)
      b.result()
    } finally c.close()
  }

  /** Replay-safe: a batch re-delivered after a crash recomputes a fresh
    * count that can only be lower (offsets may have advanced meanwhile),
    * so MATCHED keeps the larger of the stored and offered counts.
    */
  private[streaming] def recordStat(url: String, key: String, n: Long): Unit = {
    val c = DerbySink.connect(url)
    try {
      val ps = c.prepareStatement(
        s"""MERGE INTO $STATS t USING SYSIBM.SYSDUMMY1
           |ON t.batch_key = ?
           |WHEN MATCHED AND t.n_written < ? THEN UPDATE SET n_written = ?
           |WHEN NOT MATCHED THEN INSERT (batch_key, n_written) VALUES (?, ?)""".stripMargin)
      try {
        ps.setString(1, key); ps.setLong(2, n); ps.setLong(3, n)
        ps.setString(4, key); ps.setLong(5, n)
        ps.executeUpdate()
      } finally ps.close()
    } finally c.close()
  }

  /** Total FRESH rows landed (rows above their stream's watermark at the
    * time their batch ran — replays and late arrivals excluded).
    */
  def rowsWritten(url: String): Long = {
    val c = DerbySink.connect(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COALESCE(SUM(n_written), 0) FROM $STATS")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Attaches the staged stream with DB-resident OffsetMap resume.
    * `runId` namespaces the stats rows so separate runs are tellable
    * apart; it has no effect on delivery semantics (truncated into the
    * stats key's VARCHAR bound).
    */
  def attach(spark: SparkSession, stagingDir: String, url: String,
             checkpointDir: String, runId: String): DataStreamWriter[Row] = {
    ensureAux(url)
    val flat = DerbySink.envelope(EventStream.read(spark, stagingDir))
    DerbySink.ensureTableFor(url, SINK, flat.schema, "event_id")
    val statPrefix = runId.take(200)
    flat.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, url, s"$statPrefix-$batchId")
      }
  }

  /** One batch's landing protocol: rows MERGE, then the fresh-count stat,
    * then the OffsetMap advance — see the class scaladoc for why this
    * order makes every crash point recoverable.
    *
    * Liveness: the advance's JDBC scan of `OFFSETS` (inside `fresh`) runs
    * below the per-stream aggregate's exchange, and its `OFFSETS` writes
    * run above it. So no task writing `OFFSETS` runs while that scan can
    * (re-)run, and a writer never waits on a reader of the table it holds
    * locks in.
    */
  private[streaming] def landBatch(batch: DataFrame, url: String,
                                   statKey: String): Unit = {
    val s = batch.sparkSession
    batch.persist()
    try {
      // ALL rows MERGE (idempotent — replays no-op, late arrivals
      // insert); the OffsetMap only classifies fresh vs not.
      DerbySink.upsertBatchAs(batch, url, SINK, "event_id")
      // The lowerBound side is a JDBC SCAN of the OFFSETS table, not a
      // driver collect+broadcast: the map is one row per stream, and a
      // batch touching millions of streams must not materialize them all
      // in driver memory (VERDICT r8 watch item). AQE picks the join
      // strategy — broadcast while the map is small, shuffle join once
      // it isn't. (A cluster deployment can add partitionColumn options
      // to parallelize the scan; one task suffices for an executor.)
      val lower = s.read.format("jdbc")
        .option("url", url).option("dbtable", OFFSETS).load()
        .select(col("stream_id").as("user_id"), col("last_off"))
      val fresh = batch.join(lower, Seq("user_id"), "left")
        .filter(col("event_id") > coalesce(col("last_off"), lit(Long.MinValue)))
        .drop("last_off")
        .persist()
      try {
        val n = fresh.count()
        // stat BEFORE the offsets advance: a crash before this line
        // leaves the watermark un-advanced, so the replay recomputes the
        // SAME fresh count; a crash after it has the count safe already
        recordStat(url, statKey, n)
        // advance the map only AFTER the rows landed and were counted
        if (n > 0)
          DerbySink.upsertBatchAs(
            fresh.groupBy(col("user_id").as("stream_id"))
              .agg(max("event_id").as("last_off")),
            url, OFFSETS, "stream_id")
      } finally fresh.unpersist()
    } finally batch.unpersist()
  }
}
