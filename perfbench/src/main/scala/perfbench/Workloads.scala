package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.omm.{OmmConfig, CancellationPipeline => P}
import graft.operators.{Dedup, SketchState, Vocab}
import graft.streaming.{CancellationStream, NgramLmStream}

/** One workload's poll, as the benchmark drives it. `poll` is the plain
  * library call that the end-to-end metrics time; `tracedPoll` replays the
  * same steps with a span around each public call. Work outside the timed
  * window (swapping in the next table version, listing the state
  * directory, checking against the oracle) lives in `stage`,
  * `beforePoll`, `afterPoll` and `finish`. */
trait Workload {
  /** Number of polls the generated inputs support. */
  def maxPolls: Int
  /** Fresh sink and state for set-up number `setup`. */
  def reset(setup: Int): Unit
  /** Puts the inputs of poll k in place. */
  def stage(k: Int): Unit = ()
  def beforePoll(spark: SparkSession, k: Int): Unit = ()
  def afterPoll(spark: SparkSession, k: Int): Map[String, Any] = Map.empty
  def poll(spark: SparkSession, k: Int): Map[String, Any]
  def tracedPoll(spark: SparkSession, t: Tracer, k: Int): Map[String, Any]
  /** Checks and end-of-run figures, with the main session still open. */
  def finish(spark: SparkSession, lastOk: Int): Map[String, Any] = Map.empty
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    deleteTree(dst)
    val s = Files.walk(src)
    try s.forEach { f =>
      val to = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** The flagship poll, `CancellationStream.pollOnce`, with the service's
  * default configuration (FROM-NOW mode, 30 s interval and lookback,
  * Europe/Helsinki). The simulated `now` advances one interval per poll.
  * With `versions` > 0 the table set is churned: before poll k the tables
  * directory is replaced by generated version k. */
final class OmmWorkload(work: String, versions: Int) extends Workload {
  private val conf = OmmConfig.fromConf(OmmConfig.defaultConf, Map.empty)
  private val zone = conf.timezone
  private val tablesDir = s"$work/tables"
  private var sinkDir = ""
  private var stateDir = ""
  private val now0 = Instant.parse("2024-05-15T09:00:00Z")

  val maxPolls: Int = if (versions > 0) versions else Int.MaxValue

  def reset(setup: Int): Unit = {
    sinkDir = s"$work/sink$setup"
    stateDir = s"$work/state$setup"
    Seq(sinkDir, stateDir, stateDir + "_next")
      .foreach(d => Workload.deleteTree(Paths.get(d)))
  }

  override def stage(k: Int): Unit =
    if (versions > 0)
      Workload.copyTree(Paths.get(s"$work/versions/v$k"), Paths.get(tablesDir))

  private def nowAt(k: Int): Instant = now0.plusSeconds(k.toLong * conf.intervalSeconds)

  private def record(k: Int, sent: Long, newT: Long, repT: Long) = Map(
    "now" -> CancellationStream.localNowStrings(nowAt(k), zone)._1,
    "version" -> (if (versions > 0) k else 0), "sink" -> sinkDir,
    "sent" -> sent, "new_keys" -> newT, "repeated_keys" -> repT)

  def poll(spark: SparkSession, k: Int): Map[String, Any] = {
    val r = CancellationStream.pollOnce(spark, tablesDir, sinkDir, stateDir,
      conf.mode, nowAt(k), conf.lookbackSeconds, zone)
    record(k, r.sent, r.newTrips, r.repeatedTrips)
  }

  /** `pollOnce` step by step. Persist is where Spark plans the cached
    * query, so it belongs to `plan`; `materialize` is the first action. */
  def tracedPoll(spark: SparkSession, t: Tracer, k: Int): Map[String, Any] =
    t.span("poll", k) {
      val instant = nowAt(k)
      val (now, today) = CancellationStream.localNowStrings(instant, zone)
      val lookback = instant.minusSeconds(conf.lookbackSeconds)
        .atZone(ZoneId.of(zone))
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val tables = t.span("load") { P.loadTables(spark, tablesDir) }
      val deduped = t.span("plan") {
        val d = P.dedup(P.parse(
          P.snapshot(tables, conf.mode, now, today, lookback), zone)).persist()
        d.queryExecution.executedPlan
        d
      }
      try {
        val sent = t.span("materialize") { deduped.count() }
        val (newT, repT) = t.span("diff") {
          if (new java.io.File(stateDir).exists) {
            val d = Dedup.batchDiffCounts(deduped,
              spark.read.parquet(stateDir), "trip_id").collect()(0)
            (d.getLong(0), d.getLong(1))
          } else (deduped.select("trip_id").distinct().count(), 0L)
        }
        t.span("sink") {
          P.envelope(P.sendOrdered(deduped))
            .withColumn("poll_time", lit(now))
            .write.mode("append").parquet(sinkDir)
        }
        t.span("state") {
          val tmp = stateDir + "_next"
          deduped.select("trip_id").distinct()
            .write.mode("overwrite").parquet(tmp)
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(stateDir), true)
          fs.rename(new org.apache.hadoop.fs.Path(tmp),
            new org.apache.hadoop.fs.Path(stateDir))
        }
        record(k, sent, newT, repT)
      } finally deduped.unpersist()
    }
}

/** Delta-state streaming: `NgramLmStream.ingestBatch` of generated batch
  * k, then `scoreFromState` over the fixed held-out docs, collected. */
final class LmWorkload(work: String, batches: Int, compactAfterFiles: Int,
                       countCompaction: Boolean) extends Workload {
  private var stateDir = ""
  private val tables = Seq("tri", "bi", "uni")
  private var lastScore: Set[(Long, Long, Double)] = Set.empty
  private var compactRuns = 0L
  private var compactBytes = 0L

  val maxPolls: Int = batches

  def reset(setup: Int): Unit = {
    stateDir = s"$work/lmstate$setup"
    Workload.deleteTree(Paths.get(stateDir))
  }

  private def batch(spark: SparkSession, k: Int): DataFrame =
    spark.read.parquet(s"$work/text/b$k.parquet")
  private def held(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$work/text/held.parquet")

  private def ingest(spark: SparkSession, k: Int): Unit =
    NgramLmStream.ingestBatch(spark, batch(spark, k), col("id"), col("text"),
      stateDir, compactAfterFiles)

  private def score(spark: SparkSession): Map[String, Any] = {
    val rows = NgramLmStream.scoreFromState(spark, stateDir, held(spark),
      col("id"), col("text")).collect()
    lastScore = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Map("scored" -> rows.length)
  }

  def poll(spark: SparkSession, k: Int): Map[String, Any] = {
    ingest(spark, k)
    score(spark)
  }

  def tracedPoll(spark: SparkSession, t: Tracer, k: Int): Map[String, Any] =
    t.span("poll", k) {
      t.span("ingest") { ingest(spark, k) }
      t.span("score") { score(spark) }
    }

  private def listing(spark: SparkSession): Map[String, Long] =
    tables.flatMap(tb => SketchState.listPartFiles(spark, s"$stateDir/$tb")
      .map { case (p, len) => p.toString -> len }).toMap

  /** With `countCompaction` set, the state is listed before and after each
    * poll, outside its timed window: a file that disappears was merged
    * away by compaction. */
  private var before: Map[String, Long] = Map.empty

  override def beforePoll(spark: SparkSession, k: Int): Unit =
    if (countCompaction) before = listing(spark)

  override def afterPoll(spark: SparkSession, k: Int): Map[String, Any] =
    if (!countCompaction) Map.empty
    else {
      val retired = before.keySet -- listing(spark).keySet
      val runs = tables.count(tb => retired.exists(_.contains(s"/$tb/")))
      val bytes = retired.toSeq.map(before).sum
      compactRuns += runs
      compactBytes += bytes
      Map("compact_runs" -> runs, "compact_bytes" -> bytes)
    }

  /** Final score against the batch operator over the same text: every
    * ingested batch plus the held-out docs, which `stupidBackoffNll`
    * scores as its `id % 5 == 0` slice. */
  override def finish(spark: SparkSession, lastOk: Int): Map[String, Any] = {
    val all = (0 to lastOk).map(batch(spark, _)).reduce(_ union _)
      .union(held(spark))
    val expect = Vocab.stupidBackoffNll(all, col("id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val state = listing(spark)
    Map("oracle_rows" -> expect.size,
      "oracle_mismatch" -> ((expect -- lastScore).size + (lastScore -- expect).size),
      "compact_runs" -> compactRuns, "compact_bytes" -> compactBytes,
      "state_files" -> state.size, "state_bytes" -> state.values.sum)
  }
}
