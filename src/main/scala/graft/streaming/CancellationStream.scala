package graft.streaming

import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.omm.{CancellationPipeline => P}
import graft.operators.Dedup

/** S5/S4: the polling scheduler re-expressed as Structured Streaming
  * micro-batches (≙ Main.java:25,53–66 scheduleAtFixedRate + the Pulsar
  * producer sink, OmmCancellationHandler.java:228–254).
  *
  * Spark has no streaming JDBC/snapshot source, so (per SURVEY.md §7) each
  * micro-batch re-evaluates the snapshot pipeline with a freshly bound
  * `now` (S2's per-poll parameter binding) inside `foreachBatch`; the rate
  * source is only the trigger heartbeat. Cross-poll state (A2's
  * `previousCancellations`, Hand:22/225) lives in a checkpointed parquet
  * key set — restart-safe where the reference's in-memory list was not
  * (SURVEY.md §7 hard part 6).
  *
  * Fail-fast contract: any poll exception propagates and stops the
  * streaming query (≙ Main.java:56–65 shutdown-on-error).
  */
object CancellationStream {

  /** U2/U3 driver-side: render the per-poll instant as wall-clock strings
    * in the OMM zone (≙ OmmConnector.java:53–59). */
  def localNowStrings(instant: Instant, zone: String): (String, String) =
    P.localNowStrings(instant, zone)

  case class PollResult(sent: Long, newTrips: Long, repeatedTrips: Long)

  /** Slow-poll warning threshold ≙ OmmConnector.java:86–89. */
  val slowPollWarnMs = 4000L

  /** The cross-poll state: the distinct trip ids of the last committed
    * poll. Reads pin this schema, so no Spark job infers it. */
  private val keySchema = StructType(Seq(StructField("trip_id", StringType)))

  /** One poll ≙ one micro-batch: snapshot → parse → dedup, A2 diff against
    * the previous poll's key set, append the envelope to the keyed sink,
    * commit the poll's key set as the new state. Returns the per-poll
    * counts (A3 metrics, ≙ Hand:223–224). */
  def pollOnce(spark: SparkSession, tablesDir: String, sinkDir: String,
               stateDir: String, mode: P.Mode, nowInstant: Instant,
               lookbackSeconds: Long, zone: String,
               tableLoader: Option[SparkSession => P.OmmTables] = None): PollResult = {
    val t0 = System.nanoTime()
    val (now, today) = localNowStrings(nowInstant, zone)
    val lookback = P.lookbackBound(nowInstant, zone, lookbackSeconds)
    // One poll = ONE evaluation of the 10-join snapshot+parse+dedup: the
    // result is persisted, the first action below materializes the cache,
    // and the key-set/sink actions all read the InMemoryRelation
    // (asserted in CancellationStreamSpec). Without the persist each action
    // re-ran the whole pipeline — 4 evaluations per poll, the first thing
    // to blow the 30 s poll budget at scale.
    val tables = tableLoader.getOrElse(
      (s: SparkSession) => P.loadTables(s, tablesDir))(spark)
    val deduped = P.dedup(P.parse(
      P.snapshot(tables, mode, now, today, lookback), zone))
      .persist()
    try {
      val sent = deduped.count() // materializes the cache

      // A2: the poll's distinct trip ids are computed once and written to
      // the uncommitted next state; the new/repeated counts are a hash
      // left join of that key set against the previous poll's.
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val (state, next) = (new Path(stateDir), new Path(stateDir + "_next"))
      Dedup.distinctKeys(deduped, "trip_id")
        .write.mode("overwrite").parquet(next.toString)
      def keys(p: Path): DataFrame =
        spark.read.schema(keySchema).parquet(p.toString)
      val (newT, repT) =
        if (fs.exists(state)) {
          val d = Dedup.diffCounts(keys(next), keys(state), "trip_id")
            .collect()(0)
          (d.getLong(0), d.getLong(1))
        } else (keys(next).count(), 0L)

      // S4: keyed envelope appended per poll (≙ per-record producer.send),
      // in DC.last_modified send order (O1, applied here at the sink).
      P.envelope(P.sendOrdered(deduped))
        .withColumn("poll_time", lit(now))
        .write.mode("append").parquet(sinkDir)

      // Commit the key set AFTER the sink write (at-least-once on restart —
      // the reference's semantics are also at-least-once, SURVEY.md §2.9).
      // A poll that dies before this point leaves the previous state
      // untouched. The swap is delete-then-rename, not atomic: a crash
      // between the two leaves no state, and the next poll counts every
      // trip as new.
      fs.delete(state, true)
      fs.rename(next, state)

      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      if (elapsedMs > slowPollWarnMs)
        println(s"[warn] poll took ${elapsedMs} ms (query+process+send " +
          s"> $slowPollWarnMs ms threshold)")
      PollResult(sent, newT, repT)
    } finally deduped.unpersist()
  }

  /** Start the polling stream: fixed-rate micro-batches every
    * `intervalSeconds` (≙ omm.interval, environment.conf:21–22). */
  def start(spark: SparkSession, tablesDir: String, sinkDir: String,
            stateDir: String, checkpointDir: String, mode: P.Mode,
            intervalSeconds: Int, lookbackSeconds: Long, zone: String,
            nowProvider: () => Instant = () => Instant.now(),
            tableLoader: Option[SparkSession => P.OmmTables] = None): StreamingQuery =
    spark.readStream
      .format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        val r = pollOnce(spark, tablesDir, sinkDir, stateDir, mode,
          nowProvider(), lookbackSeconds, zone, tableLoader)
        // A3: per-poll counts (≙ Hand:223–224 log line)
        println(s"[poll $batchId] sent=${r.sent} new=${r.newTrips} " +
          s"repeated=${r.repeatedTrips}")
      }
      .start()
}
