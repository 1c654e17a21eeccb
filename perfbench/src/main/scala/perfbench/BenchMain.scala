package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes the run record as JSON.
  *
  * Set-up is timed from the `SparkSession` builder call to the end of the
  * first (cold) poll, `setups` times over, each time in a fresh session
  * with fresh sink and state; the first one also pays for the cold JVM.
  * The last session stays open and runs the warm polls: a closed loop with
  * one poller, the next poll starting only after the previous one
  * returned, with no interval sleep, until `seconds` have passed and at
  * least `min_polls` polls ran. After each of that session's polls,
  * outside the timed window, the benchmark stages the next inputs and
  * samples the live heap. Traced runs install the span listener after
  * set-up and alternate plain and traced polls, so the two can be compared
  * on the same state.
  *
  * Arguments are `key=value`: workload, work (the directory holding the
  * generated inputs), seconds, trace (0/1), cpus, shuffle_partitions (0:
  * one per core), setups, min_polls, out,
  * and per workload versions (churn), or batches and compact_after
  * (lm-delta). */
object BenchMain {

  /** The session settings `graft.omm.ServiceMain` uses, on `local[cpus]`,
    * with Spark's scratch space under the work directory and, as in the
    * repository's other harnesses (Bench, Verify, ScaleProbe), one shuffle
    * partition per core unless `shufflePartitions` says otherwise. */
  def session(cpus: Int, work: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("transitdata-omm-cancellation-source-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(kind: String, k: Int, setup: Int)(
      f: => Map[String, Any]): Map[String, Any] = {
    val j0 = Jvm.counters()
    val t0 = System.nanoTime()
    val r =
      try f + ("ok" -> true)
      catch { case NonFatal(e) => Map("ok" -> false, "error" -> e.toString.take(400)) }
    val wall = secs(t0)
    val j1 = Jvm.counters()
    r ++ Map("kind" -> kind, "k" -> k, "setup" -> setup, "wall_s" -> wall,
      "cpu_s" -> (j1.cpuS - j0.cpuS), "gc_s" -> (j1.gcS - j0.gcS),
      "jit_s" -> (j1.jitS - j0.jitS))
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val work = a("work")
    val traced = a("trace") == "1"
    val w: Workload = a("workload") match {
      case "lm-delta" => new LmWorkload(work, a("batches").toInt,
        a("compact_after").toInt, countCompaction = traced)
      case _ => new OmmWorkload(work, a.getOrElse("versions", "0").toInt)
    }
    val newSession = () =>
      session(a("cpus").toInt, work, a("shuffle_partitions").toInt)
    val rec = run(w, newSession, a("seconds").toDouble, traced,
      a("setups").toInt, a("min_polls").toInt)
    Files.writeString(Paths.get(a("out")), Json(rec))
  }

  def run(w: Workload, newSession: () => SparkSession, seconds: Double,
          traced: Boolean, setups: Int, minPolls: Int): Map[String, Any] = {
    val polls = ArrayBuffer.empty[Map[String, Any]]
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until setups).foreach { i =>
      if (spark != null) spark.stop()
      w.reset(i)
      w.stage(0)
      val t0 = System.nanoTime()
      spark = newSession()
      polls += timed("cold", 0, i)(w.poll(spark, 0))
      setupS += secs(t0)
    }
    val main = setups - 1
    val heap = ArrayBuffer(Heap.sample(spark.sparkContext))

    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = listener.map(_ => new Tracer(spark.sparkContext))
    val least = if (traced) 2 * minPolls else minPolls
    val start = System.nanoTime()
    var k = 1
    while (k < w.maxPolls && (k <= least || secs(start) < seconds)) {
      w.stage(k)
      w.beforePoll(spark, k)
      val r = tracer match {
        case Some(t) if k % 2 == 0 => timed("traced", k, main)(w.tracedPoll(spark, t, k))
        case _ => timed("warm", k, main)(w.poll(spark, k))
      }
      polls += r ++ w.afterPoll(spark, k)
      heap += Heap.sample(spark.sparkContext)
      k += 1
    }

    val lastOk = polls.filter(_("ok") == true).map(_("k").asInstanceOf[Int])
      .maxOption.getOrElse(-1)
    val finish =
      try if (lastOk >= 0) w.finish(spark, lastOk) else Map.empty
      catch { case NonFatal(e) => Map("error" -> e.toString.take(400)) }
    val trace = listener.map { l =>
      PerfbenchBus.drain(spark.sparkContext)
      Map(
        "spans" -> tracer.get.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "poll" -> s.poll, "start_us" -> s.startUs,
          "end_us" -> s.endUs)),
        "jobs" -> l.jobRecs.map(j => Map("id" -> j.id, "span" -> j.span,
          "start_us" -> j.startUs, "end_us" -> j.endUs)),
        "stages" -> l.stageRecs.map(s => Map("id" -> s.id, "span" -> s.span,
          "attempts" -> s.attempts, "task_ms" -> s.taskMs,
          "shuffle_bytes" -> s.shuffleBytes, "out_bytes" -> s.outBytes,
          "rows" -> s.rows)))
    }
    val conf = Map("cpus" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt)
    spark.stop()

    conf ++ Map("setups_s" -> setupS.toSeq, "main_setup" -> main,
      "heap_live_mb" -> heap.toSeq, "polls" -> polls.toSeq,
      "finish" -> finish, "trace" -> trace)
  }
}
