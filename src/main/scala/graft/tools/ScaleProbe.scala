package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.omm.{CancellationPipeline => P}
import graft.operators.NearDup

/** Measured scale probe ("measure, don't guess"): synthesizes OMM source
  * tables at parameterized row counts and multi-size document corpora in
  * /tmp, then times the flagship snapshot→parse→dedup and the near-dup
  * operators at increasing scale. Results are recorded in SCALE.md.
  *
  * Usage: sbt "runMain graft.tools.ScaleProbe [nCases] [docMultipliers...]"
  */
object ScaleProbe {

  def genOmm(spark: SparkSession, dir: String, nCases: Long): Unit = {
    val nBulletins = 1000L
    val nJourneys = nCases // one departure per case on average

    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")

    // deviation_cases: 80% currently valid, 10% cancellation-of-cancellation
    // (null valid_to), 10% stale-past; last_modified spread over a month
    write(spark.range(nCases).select(
      col("id").as("deviation_case_id"),
      (col("id") % nBulletins + 21).as("bulletin_id"),
      lit("2024-05-01 00:00:00").cast("timestamp").as("valid_from"),
      when(col("id") % 10 === 0, lit(null).cast("timestamp"))
        .when(col("id") % 10 === 1, lit("2024-05-01 00:00:00").cast("timestamp"))
        .otherwise(lit("2024-06-01 00:00:00").cast("timestamp")).as("valid_to"),
      lit("CANCEL_DEPARTURE").as("type"),
      timestamp_micros(lit(1715000000000000L) + col("id") % 2592000L * 1000000L)
        .as("last_modified")), "deviation_cases")

    // affected_departures: 1–2 rows per case (20% doubled → dedup work)
    val ad1 = spark.range(nCases).select(
      col("id").as("deviation_case_id"), (col("id") + 600000000L).as("departure_id"),
      when(col("id") % 10 === 0, "deleted").otherwise("active").as("status"),
      lit("CANCEL_ENTIRE_DEPARTURE").as("type"),
      timestamp_micros(lit(1715700000000000L) + (col("id") % 86400L) * 1000000L)
        .as("last_modified"))
    val ad2 = spark.range(nCases / 5).select(
      (col("id") * 5).as("deviation_case_id"),
      (col("id") * 5 + 600000000L).as("departure_id"),
      lit("deleted").as("status"),
      lit("CANCEL_ENTIRE_DEPARTURE").as("type"),
      timestamp_micros(lit(1715710000000000L) + (col("id") % 86400L) * 1000000L)
        .as("last_modified"))
    write(ad1.union(ad2), "affected_departures")

    write(spark.range(21L, 21L + nBulletins).select(
      col("id").as("bulletins_id"),
      lit("VEHICLE_BREAKDOWN").as("category"),
      lit("BREAK_MALFUNCTION").as("sub_category")), "bulletins")

    // fi row for every bulletin + sv rows (dropped by F1) for half
    val blmFi = spark.range(21L, 21L + nBulletins).select(
      col("id").as("bulletins_id"), lit("fi").as("language_code"),
      concat(lit("Peruttu "), col("id")).as("title"),
      concat(lit("Kuvaus "), col("id")).as("description"))
    val blmSv = spark.range(21L, 21L + nBulletins / 2).select(
      col("id").as("bulletins_id"), lit("sv").as("language_code"),
      concat(lit("Inställd "), col("id")).as("title"),
      concat(lit("Text "), col("id")).as("description"))
    write(blmFi.union(blmSv), "bulletin_localized_messages")

    // journeys: 1% replaced (F6), operating days around today
    write(spark.range(nJourneys).select(
      (col("id") + 600000000L).as("Id"),
      date_add(lit("2024-05-14").cast("date"),
        (col("id") % 5).cast("int")).as("OperatingDayDate"),
      (col("id") + 500000000L).as("IsBasedOnVehicleJourneyId"),
      (col("id") + 700000000L).as("IsBasedOnVehicleJourneyTemplateId"),
      when(col("id") % 100 === 0, 999L).otherwise(lit(null).cast("long"))
        .as("IsReplacedById"),
      timestamp_micros(lit(-2208988800000000L) + (col("id") % 1800L) * 60000000L)
        .as("PlannedStartOffsetDateTime")), "DatedVehicleJourney")

    write(spark.range(nJourneys)
      .select((col("id") + 500000000L).as("Id")), "VehicleJourney")

    // 0.5% null GID (F5)
    write(spark.range(nJourneys).select(
      (col("id") + 700000000L).as("Id"),
      when(col("id") % 200 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("12345678901"),
          (col("id") % 2 + 1).cast("string"),
          lpad((col("id") % 10000).cast("string"), 4, "0")))
        .as("IsWorkedOnDirectionOfLineGid")), "VehicleJourneyTemplate")

    write(spark.range(nJourneys).select(
      (col("id") + 500000000L).as("IsForObjectId"),
      lit(13L).as("IsOfKeyVariantTypeId"),
      concat(lit("Route "), col("id") % 500).as("StringValue")), "KeyVariantValue")

    import spark.implicits._
    write(Seq((13L, 3L)).toDF("Id", "IsForKeyTypeId"), "KeyVariantType")
    write(Seq((3L, 100, "RouteName"), (4L, 100, "SomeOtherKey"))
      .toDF("Id", "ExtendsObjectTypeNumber", "Name"), "KeyType")
    write(Seq((100, "VehicleJourney"), (200, "Route"))
      .toDF("Number", "Name"), "ObjectType")
  }

  /** Replicate the sf0.01 documents table k× with perturbed ids/text. */
  def genDocs(spark: SparkSession, k: Int): DataFrame = {
    val base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val n = 500L
    spark.range(k).crossJoin(base).select(
      (col("doc_id") + col("id") * n).as("doc_id"),
      // perturb each copy so replicas aren't byte-identical
      concat(col("text"), lit(" copy"), col("id")).as("text"))
  }

  private def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $what%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** ContamStream's scale claim, measured: per-poll cost tracks the
    * DELTAS, not the accumulated corpus. Three accumulated corpus sizes
    * (16×-spread); at each, ONE document poll (5k new docs, no benchmark
    * change — expected ~flat: new grams probe only the bounded benchmark
    * set) and ONE benchmark poll (200 new suites, no new docs — expected
    * sub-linear since round 15: the gram index is hive-bucketed by
    * pmod(h1, nBuckets) and the probe prunes to the increment's buckets;
    * a 200-suite increment covers every bucket, so it still pays the
    * full scan it genuinely needs). Two extra polls at the largest
    * corpus witness the pruning LAW: one suite (~148 grams → expected
    * coverage 256·(1−(1−1/256)^148) ≈ 112/256 buckets ≈ 44 % of the
    * index) and one gram (1/256 of the index). Results in SCALE.md. */
  def contamStreamProbe(spark: SparkSession): Unit = {
    import graft.streaming.ContamStream
    def text(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(149)),
        i => concat(lit("w"), pmod(hash(idc * 31 + i), lit(100000)))))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val docBatch = spark.range(5000)
      .select((col("id") + 900000000L).as("id"),
        text(col("id") + 700000000L).as("text")).cache()
    docBatch.count()
    val benchInc = spark.range(200)
      .select((col("id") + 800000000L).as("id"),
        text(col("id") + 600000000L).as("text")).cache()
    benchInc.count()
    val empty = docBatch.limit(0)
    // JIT/codegen warmup outside every timed window
    val warm = "/tmp/ct_probe_warm"
    fs.delete(new org.apache.hadoop.fs.Path(warm), true)
    ContamStream.ingestBatch(spark,
      spark.range(2000).select(col("id"), text(col("id")).as("text")),
      benchInc, warm)
    ContamStream.ingestBatch(spark, docBatch, empty, warm)
    val nB = 256 // buckets sized so the 1-suite poll shows the law
    Seq(25000L, 100000L, 400000L).foreach { nCorpus =>
      val base = s"/tmp/ct_probe_$nCorpus"
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val corpus = spark.range(nCorpus)
        .select(col("id"), text(col("id")).as("text"))
      val bench0 = spark.range(2000)
        .select((col("id") + 850000000L).as("id"),
          text(col("id") + 500000000L).as("text"))
      time(f"ct seed       corpus=$nCorpus%7d") {
        ContamStream.ingestBatch(spark, corpus, bench0, base, nBuckets = nB)
      }
      time(f"ct doc-poll   corpus=$nCorpus%7d (5k docs)") {
        ContamStream.ingestBatch(spark, docBatch, empty, base, nBuckets = nB)
      }
      time(f"ct bench-poll corpus=$nCorpus%7d (200 suites)") {
        ContamStream.ingestBatch(spark, empty, benchInc, base, nBuckets = nB)
      }
      // the pruning-law witnesses: ONE suite (~112/256 expected buckets)
      // and ONE gram (1/256) against the same accumulated index
      val oneSuite = spark.range(1)
        .select((col("id") + 870000000L + nCorpus).as("id"),
          text(col("id") + 400000000L + nCorpus).as("text"))
      time(f"ct bench-poll corpus=$nCorpus%7d (1 suite)") {
        ContamStream.ingestBatch(spark, empty, oneSuite, base, nBuckets = nB)
      }
      val oneGram = spark.range(1)
        .select((col("id") + 880000000L + nCorpus).as("id"),
          concat(lit("zq"), lit(nCorpus), lit(" zr"), lit(nCorpus),
            lit(" zs"), lit(nCorpus)).as("text"))
      time(f"ct bench-poll corpus=$nCorpus%7d (1 gram)") {
        ContamStream.ingestBatch(spark, empty, oneGram, base, nBuckets = nB)
      }
    }
    contamFilesWitness(spark)
  }

  /** The SCAN-side witness for the bucketed gram index, free of the
    * fixture-scale fixed costs that blur the poll wall clocks: the
    * numFiles metric of the exact read hitsOld performs, full vs
    * bucket-pruned, over the state the `ct` probe leaves behind. At
    * 100 TB bytes dominate and this fraction IS the cost law.
    * Standalone mode `ctfiles` (requires a prior `ct` run). */
  def contamFilesWitness(spark: SparkSession): Unit = {
    val nB = 256
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      // execute THIS df's plan (df.count() builds a different Dataset
      // whose run would leave these metrics untouched)
      df.queryExecution.toRdd.count()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case s: QueryStageExec => unwrap(s.plan)
        case other => other
      }
      def scans(p: SparkPlan): Seq[Long] = {
        val h = unwrap(p)
        val here = h match {
          case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
          case _ => Nil
        }
        here ++ h.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan).sum
    }
    val idx = spark.read.parquet("/tmp/ct_probe_400000/grams")
    val full = filesRead(idx)
    val one = filesRead(idx.where(col("b").isin(7)))
    val suite = filesRead(idx.where(col("b").isin(0 until 112: _*)))
    println(s"[probe] ct grams-index files read: full=$full " +
      s"1-bucket=$one 112-bucket(1-suite coverage)=$suite " +
      s"(pruning law: k-gram increment reads ≤ min(k,$nB)/$nB of the index)")
  }

  /** ops28: the adaptive gram-index layout (round 16). Two questions,
    * measured: (a) what does the fixture regime RECLAIM by starting at
    * one bucket — q156's exact 3-poll mix timed adaptive vs pinned-64
    * (the r15 layout, which paid a per-poll repartition shuffle +
    * partitioned compaction for pruning the fixture never exercised);
    * (b) does growth preserve the law — a stream whose index rebuckets
    * 1 → 256 mid-life, marker printed per poll, then the SAME
    * numFiles pruning witness as `ctfiles` against the GROWN layout. */
  def ops28Probe(spark: SparkSession): Unit = {
    import graft.streaming.ContamStream
    def text(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(149)),
        i => concat(lit("w"), pmod(hash(idc * 31 + i), lit(100000)))))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val nDocs = 15000L // ~sf0.1 documents cardinality
    val docs = spark.range(nDocs)
      .select(col("id"), text(col("id")).as("text")).cache()
    docs.count()
    // JIT/codegen warmup outside every timed window
    val warm = "/tmp/ops28_warm"
    fs.delete(new org.apache.hadoop.fs.Path(warm), true)
    ContamStream.ingestBatch(spark, docs.limit(2000), docs.limit(0), warm)
    // (a) q156's regime: 3 polls, docs + benchmark arrivals mixed
    Seq(("adaptive", 0), ("pinned-64", 64)).foreach { case (tag, nb) =>
      val base = s"/tmp/ops28_$tag"
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      (0 until 3).foreach { b =>
        val arrivals = docs.filter(col("id") % 3 === b)
        time(f"ops28 $tag%-10s poll $b") {
          ContamStream.ingestBatch(spark,
            newDocs = arrivals.filter(col("id") % 50 =!= 0),
            newBench = arrivals.filter(col("id") % 50 === 0),
            stateDir = base, nBuckets = nb)
        }
      }
      time(f"ops28 $tag%-10s read") {
        ContamStream.contamination(spark, base).count()
      }
    }
    // (b) growth path: target ~1 MB/bucket so this corpus crosses
    // several doublings; marker after each poll is the growth witness
    val base = "/tmp/ops28_grown"
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    (0 until 3).foreach { b =>
      time(f"ops28 grown      poll $b (incl. rebucket)") {
        ContamStream.ingestBatch(spark, docs.filter(col("id") % 3 === b),
          docs.limit(0), base, bucketTargetBytes = 1L << 20,
          maxBuckets = 256)
      }
      val n = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/grams/_graft_nbuckets"))).trim
      println(s"[probe] ops28 grown      modulus after poll $b: $n")
    }
    val oneGram = spark.range(1).select(lit(999999999L).as("id"),
      lit("zq1 zr1 zs1").as("text"))
    time("ops28 grown      1-gram bench poll") {
      ContamStream.ingestBatch(spark, docs.limit(0), oneGram, base,
        bucketTargetBytes = 1L << 20, maxBuckets = 256)
    }
    docs.unpersist()
  }

  /** ops29: ClusterStream's chase-regime crossover, measured. The r16
    * size gate (collect-and-chase ≤ 32 MB of log, join-per-hop past it)
    * needs its threshold justified the way DupClusters' was: seed alias
    * forests of growing size DIRECTLY (node 4r+k → parent 4r — depth-1,
    * the compacted shape), then time ONE identical 50k-pair ingest
    * (half its endpoints hit the forest) under the default gate vs
    * forced-distributed, and one forest resolution each way. Separate
    * state dirs per variant so both time the identical increment. */
  def ops29Probe(spark: SparkSession): Unit = {
    import graft.streaming.ClusterStream
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def seed(nAlias: Long, dir: String): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      spark.range(nAlias).select(
          ((col("id") / 3L).cast("long") * 4L + pmod(col("id"), lit(3L)) + 1L)
            .as("node"),
          ((col("id") / 3L).cast("long") * 4L).as("parent"))
        .repartition(math.max(1L, nAlias / 2000000L).toInt)
        .write.mode("overwrite").parquet(s"$dir/aliases")
    }
    // 6.4M is enough: the local regime is already 2–13× behind there
    // (and collapse is super-linear — driver Map + row materialization);
    // larger sizes only repeat the verdict at unbounded probe cost
    Seq(400000L, 1600000L, 6400000L).foreach { nAlias =>
      // batch: 50k pairs, id_a an aliased node, id_b a fresh id — every
      // chase has to consult the forest
      val fresh = nAlias * 8L
      val batch = spark.range(50000L).select(
        ((col("id") / 3L).cast("long") * 4L + pmod(col("id"), lit(3L)) + 1L)
          .as("id_a"),
        (col("id") + fresh).as("id_b"))
      Seq(("local", Long.MaxValue), ("dist ", 0L)).foreach { case (tag, gate) =>
        val dir = s"/tmp/ops29_${nAlias}_${tag.trim}"
        seed(nAlias, dir)
        time(f"ops29 ingest $tag aliases=$nAlias%9d (50k pairs)") {
          ClusterStream.ingestPairs(spark, batch, dir,
            localMaxAliasBytes = gate)
        }
      }
      val dir = s"/tmp/ops29_${nAlias}_local"
      time(f"ops29 read   local aliases=$nAlias%9d") {
        ClusterStream.resolveForest(spark,
          spark.read.parquet(s"$dir/aliases"),
          localMaxAliases = Long.MaxValue).count()
      }
      time(f"ops29 read   dist  aliases=$nAlias%9d") {
        ClusterStream.resolveForest(spark,
          spark.read.parquet(s"$dir/aliases"),
          localMaxAliases = 0L).count()
      }
    }
  }

  /** Crossover measurement for NearDupStream's verify-side corpus access
    * (full-scan shingle vs candidate-id broadcast semi-join) at growing
    * corpus/batch ratios. State is seeded directly with what ingestBatch
    * leaves behind (docs + band index), fresh per variant so both time the
    * IDENTICAL increment. */
  def nearDupStreamProbe(spark: SparkSession): Unit = {
    import graft.streaming.NearDupStream
    val (n, bands, rpb, thr) = (3, 8, 2, 0.8)
    // realistic candidate shape: dup families are a SLIVER of the corpus
    // (the whole premise of the dedup family) — 30-word docs over a 100k
    // vocabulary almost never collide, and 10% of the batch duplicates a
    // specific corpus doc. A candidate-rich corpus (every corpus doc a
    // near-dup of the batch) inverts the result: the semi-join restricts
    // nothing and pays its jobs for free — measured 9.4 vs 7.0 s at
    // ratio 125 in that degenerate shape.
    def text(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(149)),
        i => concat(lit("w"), pmod(hash(idc * 31 + i), lit(100000)))))
    val nBatch = 500L
    val batch = spark.range(nBatch).select(
        (col("id") + 900000000L).as("id"),
        when(col("id") < nBatch / 10, text(col("id"))) // dup of corpus id
          .otherwise(text(col("id") + 500000000L)).as("text"))
      .cache()
    batch.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    var warmed = false
    Seq(8, 32, 125, 500).foreach { ratio =>
      val nCorpus = nBatch * ratio
      val corpus = spark.range(nCorpus)
        .select(col("id"), text(col("id")).as("text")).cache()
      corpus.count()
      Seq(("full-scan", Long.MaxValue), ("semi-join", 0L)).foreach {
        case (label, r) =>
          val base = s"/tmp/nd_probe_${ratio}_$label"
          fs.delete(new org.apache.hadoop.fs.Path(base), true)
          corpus.write.mode("overwrite").parquet(s"$base/state/docs")
          NearDup.minhashBands(corpus, col("id"), col("text"), n, bands, rpb)
            .write.mode("overwrite").parquet(s"$base/state/bands")
          if (!warmed) { // JIT/codegen warmup outside every timed window
            NearDupStream.ingestBatch(spark, batch, s"$base/state",
              s"$base/sink-warm", n, bands, rpb, thr)
            fs.delete(new org.apache.hadoop.fs.Path(base), true)
            corpus.write.mode("overwrite").parquet(s"$base/state/docs")
            NearDup.minhashBands(corpus, col("id"), col("text"), n, bands, rpb)
              .write.mode("overwrite").parquet(s"$base/state/bands")
            warmed = true
          }
          time(f"ndstream $label%-9s corpus=$nCorpus%7d ratio=$ratio%3d") {
            NearDupStream.ingestBatch(spark, batch, s"$base/state",
              s"$base/sink", n, bands, rpb, thr, semiJoinCorpusRatio = r)
          }
      }
      corpus.unpersist()
    }
    batch.unpersist()
  }

  /** Heavy hitters + prefix-sum sharding at token volumes far beyond the
    * testdata: a 100M-token zipf-ish stream (wide vocabulary, heavy head)
    * through Frequent.heavyHitters, and a 20M-row corpus through
    * Shard.byBudget. Both must stay flat-per-token: the MG pass shuffles
    * only candidates, the shard pass shuffles once by range. */
  def frequentProbe(spark: SparkSession): Unit = {
    val nTok = 100000000L
    // zipf-ish: rank r = id mod 1e6 with probability tilt via square —
    // ~1e6 distinct items, top item ~1% share
    val toks = spark.range(nTok).select(
      concat(lit("w"), (pmod(hash(col("id")), lit(1000)) *
        pmod(hash(col("id") + 1), lit(1000))).cast("long")).as("item"))
    time(f"heavyHitters ($nTok%11d tokens)") {
      graft.operators.Frequent.heavyHitters(
        toks, col("item"), minShare = 0.005, counters = 512).count()
    }
    val nDocs = 20000000L
    val docs = spark.range(nDocs).select(
      col("id"), (pmod(hash(col("id")), lit(900)) + 100).cast("long").as("w"))
    time(f"shardByBudget($nDocs%11d rows  )") {
      graft.operators.Shard.byBudget(docs, "id", "w", budget = 1000000L)
        .agg(max(col("shard"))).collect()
    }
    // decontamination at 16x the sf0.01 corpus (8k docs, ~2% benchmark)
    val corpus = genDocs(spark, 16).cache()
    val nC = corpus.count()
    time(f"decontaminate($nC%11d docs  )") {
      graft.operators.Contamination.overlapVsBenchmark(
        corpus.filter(col("doc_id") % 50 =!= 0),
        corpus.filter(col("doc_id") % 50 === 0),
        col("doc_id"), col("text")).count()
    }
    corpus.unpersist()
  }

  /** The round-6 extension operators at token/row volumes far beyond
    * the testdata: count-min counters over a 100M-token stream (the
    * shuffle must stay depth×width, flat per token), BPE pair top-k
    * over the same stream read as 2-token windows, sequence packing and
    * mixture sampling over 20M docs, and bigram NLL over a 16× corpus.
    * Everything here must scale with input size or better. */
  def newOpsProbe(spark: SparkSession): Unit = {
    import graft.operators.{Mix, Pack, Sketch, Vocab}
    val nTok = 100000000L
    val toks = spark.range(nTok).select(
      concat(lit("w"), (pmod(hash(col("id")), lit(1000)) *
        pmod(hash(col("id") + 1), lit(1000))).cast("long")).as("item"))
    // run twice: the hash is now the codegen'd HashKernels.PolyHash, so
    // the cold/warm pair measures JIT warmup of the generated kernel —
    // the second pass is the steady state a long-lived cluster JVM sees
    time(f"countMinCounters ($nTok%11d tokens) cold") {
      Sketch.countMinCounters(toks, col("item"), 3, 1024).count()
    }
    time(f"countMinCounters ($nTok%11d tokens) warm") {
      Sketch.countMinCounters(toks, col("item"), 3, 1024).count()
    }
    time(f"countMinEstimates($nTok%11d tokens)") {
      Sketch.countMinEstimates(toks, col("item"), 3, 1024,
        Seq("w0", "w999", "w123456")).count()
    }
    val nDocs = 20000000L
    val docs = spark.range(nDocs).select(
      col("id"), (pmod(hash(col("id")), lit(900)) + 100).cast("long").as("w"),
      concat(lit("s"), pmod(col("id"), lit(20))).as("src"))
    time(f"packExamples     ($nDocs%11d rows  )") {
      Pack.packExamples(docs, "id", "w", seqLen = 2048)
        .agg(max(col("example_id"))).collect()
    }
    time(f"mixSampleToBudget($nDocs%11d rows  )") {
      Mix.sampleToBudget(docs, col("id"), col("src"), col("w"),
        budget = 100000000L).count()
    }
    val corpus16 = genDocs(spark, 16).cache()
    val nC = corpus16.count()
    time(f"topPairs         ($nC%11d docs  )") {
      Vocab.topPairs(corpus16, col("text"), 100).count()
    }
    time(f"bigramNll        ($nC%11d docs  )") {
      Vocab.bigramNll(corpus16, col("doc_id"), col("text")).count()
    }
    corpus16.unpersist()
    // brute-force cosine top-k at 1M x 64-dim against 8 queries: the
    // scoring inner loop is VecKernels.dot — 8M dot products, 512M
    // multiply-adds, all map-side against the broadcast query set
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 37 + i * 11).cast("float")).as("embedding"))
      .cache()
    vecs.count()
    time(f"bruteForceTopK   ($nVec%11d vecs  )") {
      graft.operators.Similarity.bruteForceTopK(
        vecs, vecs.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10).count()
    }
    vecs.unpersist()
  }

  /** K-scaling of BPE training: the delta-maintained count table
    * ([[graft.operators.Vocab.bpeTrain]] — driver-resident regime, and
    * the above-ceiling distributed regime forced via maxDriverPairs = 0)
    * vs the naive full recount-per-round ([[Vocab.bpeTrainRecount]]) at
    * growing merge counts. Recount is O(K · corpus) by construction —
    * its per-round cost is FLAT in K (a full explode+count each round) —
    * while the delta paths pay the full count once and then only
    * affected-row deltas, so their marginal round cost falls as merges
    * get rarer. The small (8k-doc) series shows the fixture-scale
    * regime; the 2M-doc × 50-token series is the real one (a full
    * recount pass is ~100M pair occurrences; a delta round is a cached
    * substring filter + the affected sliver). Run: sbt "runMain
    * graft.tools.ScaleProbe bpe"; figures in SCALE.md. */
  def bpeProbe(spark: SparkSession): Unit = {
    import graft.operators.Vocab
    val small = genDocs(spark, 16).cache()
    val nSmall = small.count()
    Seq(8, 32, 128).foreach { k =>
      time(f"bpe driver-delta ($nSmall%7d docs, K=$k%4d)") {
        Vocab.bpeTrain(small, col("text"), k).count()
      }
      time(f"bpe dist-delta   ($nSmall%7d docs, K=$k%4d)") {
        Vocab.bpeTrain(small, col("text"), k, maxDriverPairs = 0).count()
      }
      time(f"bpe recount      ($nSmall%7d docs, K=$k%4d)") {
        Vocab.bpeTrainRecount(small, col("text"), k).count()
      }
    }
    small.unpersist()
    // 100M-token corpus, closed 500-token vocabulary (≤ 250k pair types:
    // the count table is TYPES-bounded — tiny next to 98M occurrences)
    val nDocs = 2000000L
    val big = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(500)))))
        .as("text")).cache()
    val nBig = big.count()
    Seq(8, 32).foreach { k =>
      time(f"bpe driver-delta ($nBig%7d docs, K=$k%4d)") {
        Vocab.bpeTrain(big, col("text"), k).count()
      }
    }
    time(f"bpe recount      ($nBig%7d docs, K=   8)") {
      Vocab.bpeTrainRecount(big, col("text"), 8).count()
    }
    big.unpersist()
  }

  /** The round-7 extension operators (q82–q87 shapes) at the same
    * 100M-token / 1M-vector volumes as [[newOpsProbe]]: document
    * chunking, NFC normalization, BPE encoding (64 chained map-side
    * replaces), and kNN classification. Everything here must scale
    * linearly with input — chunking and encoding are exchange-free
    * projections, normalization is a codegen'd kernel with an ASCII
    * byte fast path, kNN is map-side scoring against a broadcast query
    * set. Run: sbt "runMain graft.tools.ScaleProbe ops7". */
  def ops7Probe(spark: SparkSession): Unit = {
    import graft.operators.{Chunk, Similarity, Vocab}
    val nDocs = 2000000L
    val tokPerDoc = 50L
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(5000)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    time(f"tokenChunks      ($nTok%11d tokens)") {
      Chunk.tokenChunks(docs, col("doc_id"), col("text"),
        size = 16, overlap = 4).agg(count(lit(1))).collect()
    }
    time(f"nfcNormalize     ($nTok%11d tokens)") {
      docs.select(sum(length(
        graft.functions.TextExprs.normalizeText(col("text"))))).collect()
    }
    // a chained 64-merge table in the synthetic vocabulary: each merge's
    // pattern actually occurs, so the replace chain does real work
    val merges = (0 until 64).map { i =>
      if (i == 0) ("w0", "w1") else (s"w0w1${"w2" * (i - 1)}", "w2")
    }
    time(f"bpeEncode        ($nTok%11d tokens, 64 merges)") {
      Vocab.bpeEncode(docs, col("doc_id"), col("text"), merges)
        .agg(avg(col("compression"))).collect()
    }
    docs.unpersist()
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      pmod(col("id"), lit(10)).cast("string").as("label"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 37 + i * 11).cast("float")).as("embedding"))
      .cache()
    vecs.count()
    time(f"knnClassify      ($nVec%11d vecs, 8 queries)") {
      Similarity.knnClassify(vecs, vecs.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 10).count()
    }
    vecs.unpersist()
  }

  /** The round-8 extension operators (q88–q90 shapes) at probe scale:
    * cross-document segment dedup over 100M tokens with a 20% templated
    * (heavily duplicated) sub-corpus, semantic dedup over 1M vectors with
    * a 20% exact-duplicate tail, and smoothed trigram scoring over 100M
    * tokens at two vocabulary regimes — 100 types (Zipf-like: the count
    * table is TYPES-bounded and tiny) and 5000 types (adversarial
    * near-unique trigrams: the count table degrades toward corpus size,
    * the documented worst case). Run: sbt "runMain graft.tools.ScaleProbe ops8". */
  def ops8Probe(spark: SparkSession): Unit = {
    import graft.operators.{Dedup, Similarity, Vocab}
    val nDocs = 2000000L
    val tokPerDoc = 50L
    // 20% of docs are drawn from a 1000-template pool (every segment of a
    // templated doc duplicates across ~400 docs); the rest are unique
    def synth(vocab: Int) = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 5 === 0, col("id") % 1000)
            .otherwise(col("id")) * 53 + i), lit(vocab)))))
        .as("text"))
    val docs = synth(5000).cache()
    val nTok = docs.count() * tokPerDoc
    val dd = time(f"dedupSegments    ($nTok%11d tokens, w=16)") {
      Dedup.dedupSegments(docs, col("doc_id"), col("text"), w = 16)
        .agg(sum(col("n_segments")), sum(col("n_kept"))).collect()(0)
    }
    println(s"[probe]   segments=${dd.getLong(0)} kept=${dd.getLong(1)}")
    time(f"trigramNll v5000 ($nTok%11d tokens, near-unique trigrams)") {
      Vocab.trigramNll(docs, col("doc_id"), col("text"))
        .agg(avg(col("avg_nll"))).collect()
    }
    docs.unpersist()
    val zipf = synth(100).cache()
    zipf.count()
    time(f"trigramNll v100  ($nTok%11d tokens, types-bounded)") {
      Vocab.trigramNll(zipf, col("doc_id"), col("text"))
        .agg(avg(col("avg_nll"))).collect()
    }
    zipf.unpersist()
    // 1M vectors, 20% exact duplicates (ids >= 800k repeat the low range);
    // bits=16 keeps EXPECTED bucket population ~15, so within-bucket
    // pairing stays linear-ish — the bits-sizing contract the scaladoc
    // states. Components come from a hash (pseudo-uniform in [-1, 1]):
    // sin-of-arithmetic-progression vectors (the ops7 shape) concentrate
    // plane signs into a few huge buckets and the quadratic within-bucket
    // term takes over — the probe's first run demonstrated exactly the
    // skew failure the scaladoc warns about.
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(hash(pmod(col("id"), lit(800000L)) * 53 + i), lit(2001))
          - 1000) / 1000.0).cast("float"))
        .as("embedding")).cache()
    vecs.count()
    val sd = time(f"semanticDedup    ($nVec%11d vecs, bits=16)") {
      Similarity.semanticDedup(vecs, col("vec_id"), col("embedding"),
          dim = 64, bits = 16, seed = 7L, threshold = 0.95)
        .agg(count(lit(1)), sum(when(col("kept"), 0L).otherwise(1L)))
        .collect()(0)
    }
    println(s"[probe]   rows=${sd.getLong(0)} dropped=${sd.getLong(1)}")
    vecs.unpersist()
  }

  /** Round-9 probes. (a) The streaming segment-dedup increment (q91's
    * shape) at 100M tokens across 5 micro-batches: per-batch cost must
    * track the BATCH (map-side segmenting + winner agg + hash-only
    * anti-join against the accumulated index + rebuild from the batch's
    * own arrays), not the accumulated corpus, and the post-compaction
    * state/sink part-file counts must stay bounded. (b) The
    * distributed-delta BPE regime at 100M tokens (forced via
    * `maxDriverPairs = 0`), K∈{8,32} — the open-vocabulary regime
    * SCALE.md's K-scaling table had no large-corpus figure for.
    * (c) trigramNll at both vocabulary regimes after the single-scan fix
    * (the corpus pays ONE tokenize+explode; ops8 measured the two-scan
    * shape at 48.2 s / 22.7 s). Run:
    * sbt "runMain graft.tools.ScaleProbe ops9". */
  def ops9Probe(spark: SparkSession): Unit = {
    import graft.operators.Vocab
    import graft.streaming.SegDedupStream
    val nDocs = 2000000L
    val tokPerDoc = 50L
    def synth(vocab: Int) = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 5 === 0, col("id") % 1000)
            .otherwise(col("id")) * 53 + i), lit(vocab)))))
        .as("text"))
    def partFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.startsWith("part-"))
    }
    // (a) 5 equal batches of 20M tokens each, 20% templated dup corpus
    val docs = synth(5000)
      .select(col("doc_id").as("id"), col("text")).cache()
    docs.count()
    val base = java.nio.file.Files.createTempDirectory("ops9seg").toString
    val batchSz = nDocs / 5
    (0 until 5).foreach { b =>
      val lo = b * batchSz
      val r = time(f"segdedup batch $b (${batchSz * tokPerDoc}%10d tokens)") {
        SegDedupStream.ingestBatch(spark,
          docs.filter(col("id") >= lo && col("id") < lo + batchSz),
          s"$base/state", s"$base/sink", w = 16)
      }
      println(s"[probe]   kept=${r.keptSegments}" +
        s" stateFiles=${partFiles(s"$base/state/segs")}" +
        s" sinkFiles=${partFiles(s"$base/sink")}")
    }
    docs.unpersist()
    // (c) trigram scoring, both regimes, single-scan shape
    Seq(5000 -> "near-unique trigrams", 100 -> "types-bounded").foreach {
      case (v, label) =>
        val d = synth(v).cache()
        val nTok = d.count() * tokPerDoc
        time(f"trigramNll v$v%-4d ($nTok%11d tokens, $label)") {
          Vocab.trigramNll(d, col("doc_id"), col("text"))
            .agg(avg(col("avg_nll"))).collect()
        }
        d.unpersist()
    }
    // (b) dist-delta at the big-corpus volume (bpeProbe's closed 500-type
    // vocabulary: ≤ 250k pair types, so the count table stays tiny and
    // the regimes differ only in WHERE the table lives)
    val big = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(49)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(500)))))
        .as("text")).cache()
    val nBig = big.count()
    Seq(8, 32).foreach { k =>
      time(f"bpe dist-delta   ($nBig%7d docs, K=$k%4d)") {
        Vocab.bpeTrain(big, col("text"), k, maxDriverPairs = 0).count()
      }
    }
    big.unpersist()
    // (d) streaming semantic dedup (q92 shape): a 600k-vector seed batch
    // then 4 × 100k increments — the steady-state regime (state ≫ batch)
    // takes the broadcast probe path (ratio 4 here), so the accumulated
    // state STREAMS through the verdict join without shuffling; the 20%
    // exact-duplicate tail (ids ≥ 800k repeat the low range, ops8's
    // vector synth) arrives in the last two increments and rides the
    // exact-hash path. Per-batch cost should track batch + one streamed
    // state pass, not state shuffles.
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(hash(pmod(col("id"), lit(800000L)) * 53 + i), lit(2001))
          - 1000) / 1000.0).cast("float"))
        .as("embedding")).cache()
    vecs.count()
    val semBase = java.nio.file.Files.createTempDirectory("ops9sem").toString
    val semBounds = Seq(0L, 600000L, 700000L, 800000L, 900000L, 1000000L)
    semBounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
      val r = time(f"semdedup batch $b (${hi - lo}%7d vecs)") {
        graft.streaming.SemDedupStream.ingestBatch(spark,
          vecs.select(col("vec_id").as("id"), col("embedding").as("emb"))
            .filter(col("id") >= lo && col("id") < hi),
          s"$semBase/state", s"$semBase/sink",
          dim = 64, bits = 16, seed = 7L, threshold = 0.95,
          broadcastStateRatio = 4L)
      }
      println(s"[probe]   kept=${r.kept} stateRows=" +
        spark.read.parquet(s"$semBase/state/vecs").count())
    }
    vecs.unpersist()
  }

  /** IVF-PQ vs full-ADC scan at 1M × 64-dim vectors: same codes, same
    * queries — the probe isolates the scan-pruning win (encode cost is
    * paid once, cached). Also reports recall@10 of the probed scan vs
    * the full scan, the accuracy a user trades for the prune. */
  def ops10Probe(spark: SparkSession): Unit = {
    import graft.operators.Quantize
    val n = 1000000L
    val dim = 64; val m = 8; val nLists = 64
    // CLUSTERED corpus — 64 centers + 5% noise. Uniform random vectors
    // are the one regime quantization cannot serve (1M near-equidistant
    // points; even a full ADC scan ranks noise), and no real embedding
    // corpus looks like that. 64 modes with one coarse seed row landing
    // in each (ids 100..163 ≡ distinct residues mod 64) reproduces what
    // a TRAINED coarse quantizer (Similarity.fitQuantizer) converges to:
    // lists ≈ data modes — the regime where residuals reduce to noise
    // and the residual codebook resolves within-list ranking.
    val cid = col("id") % 64
    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((pmod(hash(cid * 53 + i), lit(2001)) - 1000) / 1000.0) +
          ((pmod(hash(col("id") * 101 + i), lit(2001)) - 1000) / 20000.0))
        .as("embedding")).cache()
    vecs.count()
    val pq = Quantize.seedCodebook(vecs, col("vec_id"), col("embedding"),
      10L to 25L)
    val coarse = Quantize.seedCodebook(vecs, col("vec_id"), col("embedding"),
      100L until (100L + nLists))
    val codes = Quantize.pqEncode(vecs, col("vec_id"), col("embedding"),
        pq, m, dim,
        keep = Seq(Quantize.ivfListCol(col("embedding"), coarse)
          .as("list_id")))
      .drop("distortion").cache()
    time(f"pq encode + ivf assign   ($n%8d rows, $nLists lists)") {
      codes.count()
    }
    val queries = vecs.filter(col("vec_id") < 8)
    // exact L2 top-10 = the ground truth every ADC variant approximates
    val exact = {
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("d").asc, col("neighbor_id").asc)
      vecs.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("d", graft.functions.VectorExprs.l2sq(col("qv"), col("cv")))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select("query_id", "neighbor_id").cache()
    }
    time("exact L2 top-10          (ground truth)") { exact.count() }
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id").intersect(exact).count() / 80.0
    val full = Quantize.pqAdcTopK(codes.drop("list_id"), queries,
      "vec_id", "embedding", pq, m, dim, 10)
    time("full ADC scan            (8 queries x 1M codes)") { full.count() }
    println(f"[probe]   full-ADC recall@10 vs exact: ${recall(full)}%.3f")
    Seq(16, 4).foreach { nProbe =>
      val ivf = Quantize.ivfPqTopK(codes, queries, "vec_id", "embedding",
        coarse, pq, m, dim, nProbe, 10)
      time(f"ivfPq scan nProbe=$nProbe%3d/$nLists") { ivf.count() }
      println(f"[probe]   recall@10 vs exact: ${recall(ivf)}%.3f")
    }
    // residual flavor (q94/q95): same scan shape, lower distortion — the
    // recall delta vs the raw-PQ variant is the point of the residual.
    // 64 codes/subspace exceeds maxLiteralCodes, so this exercises the
    // PqKernels path (the literal form overflowed janino's 64 KB method
    // limit here before the kernels existed — the probe that motivated
    // them); 16-code literal runs measured recall 0.025 vs 0.038 at 64.
    val rb = Quantize.residualSeedCodebook(vecs, col("vec_id"),
      col("embedding"), 10L to 73L, coarse)
    val listC = Quantize.ivfListCol(col("embedding"), coarse)
    val resCodes = Quantize.pqEncode(vecs, col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse, listC),
        rb, m, dim, keep = Seq(listC.as("list_id")))
      .drop("distortion").cache()
    time(f"residual encode + assign ($n%8d rows)") { resCodes.count() }
    Seq(16, 4).foreach { nProbe =>
      val ivf = Quantize.ivfPqResidualTopK(resCodes, queries, "vec_id",
        "embedding", coarse, rb, m, dim, nProbe, 10)
      time(f"ivfPq RESIDUAL nProbe=$nProbe%3d/$nLists") { ivf.count() }
      println(f"[probe]   recall@10 vs exact: ${recall(ivf)}%.3f")
    }
    resCodes.unpersist()
    exact.unpersist()
    // The 100 TB shape: codes laid out partitionBy(list_id) — the coarse
    // assignment IS the storage layout, and the broadcast probe join
    // triggers dynamic partition pruning, so unprobed lists are never
    // READ, not just filtered post-scan. (The cached runs above measure
    // arithmetic pruning only; this measures I/O pruning.)
    val dir = java.nio.file.Files.createTempDirectory("ops10ivf").toString
    time("write codes partitioned by list_id") {
      codes.write.partitionBy("list_id").mode("overwrite").parquet(dir)
    }
    vecs.unpersist(); codes.unpersist()
    val onDisk = spark.read.parquet(dir)
    time("full ADC scan            (parquet, all 64 lists)") {
      Quantize.pqAdcTopK(onDisk.drop("list_id"), queries,
        "vec_id", "embedding", pq, m, dim, 10).count()
    }
    val ivfDisk = Quantize.ivfPqTopK(onDisk, queries, "vec_id", "embedding",
      coarse, pq, m, dim, 4, 10)
    val planHasDpp = ivfDisk.queryExecution.executedPlan.toString
      .contains("dynamicpruning")
    time("ivfPq scan nProbe=  4/64 (parquet, DPP-pruned)") { ivfDisk.count() }
    println(s"[probe]   dynamic partition pruning in plan: $planHasDpp")
  }

  /** Read-side proof of the z-order layout claim: write 20M (x, y) rows
    * once sorted by x and once z-ordered, then time a selective filter
    * on Y — the column the x-sort cannot prune. Parquet row-group
    * min/max stats + pushed filters do the skipping; the z layout should
    * scan a fraction of what the x-sort scans. */
  def zorderProbe(spark: SparkSession): Unit = {
    import graft.operators.Layout
    val n = 20000000L
    val df = spark.range(n).select(
      (col("id") % 10000).as("x"),
      (pmod(hash(col("id")), lit(10000))).cast("long").as("y"))
    val zDir = "/tmp/zprobe_z"; val xDir = "/tmp/zprobe_x"
    time(s"write x-sorted   ($n rows, 64 files)") {
      df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(xDir)
    }
    time(s"write z-ordered  ($n rows, 64 files)") {
      Layout.writeZOrdered(df, zDir, "x", "y", 0L, 9999L, 0L, 9999L,
        files = 64, bits = 10)
    }
    // selective Y-range predicate: x-sort leaves y unsorted in every
    // file (no pruning); z-order gives each file a narrow y span
    for ((label, dir) <- Seq("x-sorted" -> xDir, "z-ordered" -> zDir)) {
      val c = time(f"filter y∈[100,199] over $label%-9s") {
        spark.read.parquet(dir)
          .filter(col("y") >= 100 && col("y") <= 199).count()
      }
      println(s"[probe]   rows: $c")
    }
  }

  /** Sizes the `localMaxEdges` default from measurement instead of a guess:
    * times the single-task union-find vs the distributed min-label loop on
    * the SAME graph at edge counts bracketing the threshold, and reports
    * the parent-table size the task holds (2 long arrays ≈ 16 B/entry
    * after the primitive-map specialization). Graph shape is the realistic
    * one — many small families (chains of 5 edges), vertices ≈ 1.2× edges.
    * Run: sbt "runMain graft.tools.ScaleProbe uf"; results in SCALE.md. */
  def unionFindProbe(spark: SparkSession): Unit = {
    import graft.operators.DupClusters
    Seq(250000L, 1000000L, 4000000L).foreach { nE =>
      val nIds = nE * 6 / 5 + 1
      val edges = spark.range(nIds - 1).filter(col("id") % 6 =!= 5)
        .select(col("id").as("src"), (col("id") + 1).as("dst")).cache()
      val ne = edges.count()
      val verts = spark.range(nIds).select(col("id")).cache()
      verts.count()
      // ~2.4 longs of parent state per edge at this shape (keys+vals at
      // 0.75 max load rounds capacity to the next power of two)
      println(f"[probe] union-find parent table ≈ ${ne * 1.2 * 16 / 1e6}%.0f MB raw" +
        f" for $ne%d edges (pre-pow2-rounding)")
      time(f"unionFindLocal   ($ne%8d edges)") {
        DupClusters.connectedComponents(verts, edges,
          localMaxEdges = Long.MaxValue).count()
      }
      time(f"unionFindLoop    ($ne%8d edges)") {
        DupClusters.connectedComponents(verts, edges,
          localMaxEdges = 0L).count()
      }
      verts.unpersist(); edges.unpersist()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Round-11 operators at scale. (a) Binary quantization and random
    * projection at 1M × 64-dim clustered vectors: encode/scan cost vs
    * the float32 brute-force baseline and recall@10 at a bounded rerank
    * window — the candidate-stage trades each layout buys. (b) The
    * segment/span dedup family and n-gram diversity at 100M tokens
    * (2M docs × 50), with 20% boilerplate docs so the drop sets are
    * non-trivial. (c) Fuzzy decontamination of the 2M-doc corpus against
    * a 1k-doc benchmark. (d) DSIR importance weights over the same
    * corpus with a 1%-of-docs target. Run:
    * sbt "runMain graft.tools.ScaleProbe ops12". */
  /** The vector third of [[ops12Probe]], runnable alone ("ops12v"):
    * BQ and RP candidate-stage costs vs the float32 scan at 1M × 64-dim
    * clustered vectors. Recall@10 here is the NEAR-TIE artifact the
    * ops11 SQ8 probe documents (each cluster holds ~15k vectors within
    * noise, so any sketch's candidate order among near-ties diverges
    * from exact-cosine order) — the meaningful recall figures are the
    * fixture-corpus floors pinned in SimilarityRecallSpec (RP 0.59) and
    * QuantizeSpec's full-window exactness; what this probe certifies is
    * COST: the signature scan must undercut the float scan. */
  def ops12VecProbe(spark: SparkSession): Unit = {
    import graft.operators.{Quantize, Similarity}
    val n = 1000000L
    val dim = 64
    val cid = col("id") % 64
    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((pmod(hash(cid * 53 + i), lit(2001)) - 1000) / 1000.0) +
          ((pmod(hash(col("id") * 101 + i), lit(2001)) - 1000) / 20000.0))
        .as("embedding")).cache()
    vecs.count()
    val queries = vecs.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(vecs, queries,
      "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").cache()
    time("float32 cosine scan       (8 queries x 1M rows)") { exact.count() }
    val sigs = vecs.select(col("vec_id").as("id"),
      Quantize.bqEncode(col("embedding"), dim).as("sig")).cache()
    time(f"bq encode                 ($n%8d rows -> 2 words)") { sigs.count() }
    val bq = Quantize.bqTopKFromSigs(sigs, vecs, queries, "vec_id",
      "embedding", dim, k = 10, rerank = 100).cache()
    time("bq sig scan + rerank100   (8 queries x 1M sigs)") { bq.count() }
    val bqHits = bq.select("query_id", "neighbor_id").intersect(exact).count()
    println(f"[probe]   bq recall@10 vs exact cosine: ${bqHits / 80.0}%.3f" +
      " (near-tie artifact; see scaladoc)")
    bq.unpersist(); sigs.unpersist()
    val rpM = Similarity.rpMatrix(dim, 16, seed = 12L)
    val rp = Similarity.rpTopK(vecs, queries, "vec_id", "embedding",
      rpM, k = 10, rerank = 100).cache()
    time("rp 64->16 + rerank100     (8 queries x 1M rows)") { rp.count() }
    val rpHits = rp.select("query_id", "neighbor_id").intersect(exact).count()
    println(f"[probe]   rp recall@10 vs exact cosine: ${rpHits / 80.0}%.3f" +
      " (near-tie artifact; see scaladoc)")
    rp.unpersist(); exact.unpersist(); vecs.unpersist()
  }

  def ops12Probe(spark: SparkSession): Unit = {
    import graft.operators.{Contamination, Dedup, Diversity, Dsir}
    ops12VecProbe(spark)
    // ---- (b) segment/span dedup + diversity at 100M tokens ----
    val nDocs = 2000000L
    val tokPerDoc = 50L
    // 20% of docs (id % 5 == 0) share one of 1000 boilerplate bodies;
    // the rest are near-unique — mirrors a web crawl's chrome/dup mix
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 5 === 0, col("id") % 1000)
            .otherwise(col("id")) * 53 + i), lit(5000)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    time(f"dropFrequentSegments w=8  ($nTok%11d tokens)") {
      Dedup.dropFrequentSegments(docs, col("doc_id"), col("text"),
        w = 8, minDf = 2).agg(sum(col("n_kept"))).collect()
    }
    time(f"removeDupSpans k=8        ($nTok%11d tokens)") {
      Dedup.removeDupSpans(docs, col("doc_id"), col("text"), k = 8)
        .agg(sum(col("n_removed"))).collect()
    }
    time(f"ngramDiversity n=1,2      ($nTok%11d tokens)") {
      Diversity.ngramDiversity(docs, col("text"),
        pmod(col("doc_id"), lit(20)), Seq(1, 2)).collect()
    }
    // ---- (c) fuzzy decontamination vs a 1k-doc benchmark ----
    val bench = spark.range(1000).select(
      (col("id") * 5).as("doc_id"),   // every bench doc HAS corpus dups
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(5000)))))
        .as("text"))
    time(f"fuzzyVsBenchmark          (${nDocs}%8d docs x 1k bench)") {
      Contamination.fuzzyVsBenchmark(docs, bench, col("doc_id"),
        col("text"), n = 3, bands = 16, rowsPerBand = 2,
        threshold = 0.8).count()
    }
    // ---- (d) DSIR with a 1%-of-docs target ----
    time(f"dsir importance weights   ($nTok%11d tokens, 1%% target)") {
      Dsir.importanceWeights(
        raw = docs.filter(col("doc_id") % 100 =!= 0),
        target = docs.filter(col("doc_id") % 100 === 0),
        col("doc_id"), col("text"), buckets = 8192)
        .agg(sum(when(col("selected"), 1).otherwise(0))).collect()
    }
    docs.unpersist()
  }

  /** Round-10 operators at scale, part 2. (a) Stupid Backoff LM at 100M
    * tokens in the TYPES-bounded and near-unique-trigram vocab regimes —
    * count-table cost tracks types, not tokens, in both count-table
    * tables. (b) SQ8 at 1M × 64-dim clustered vectors (the ops10 corpus):
    * encode cost (map-side, no shuffle), top-k scan cost vs the float32
    * brute-force scan, and recall@10 vs exact — the memory/recall trade
    * the layout buys. Run: sbt "runMain graft.tools.ScaleProbe ops11". */
  def ops11Probe(spark: SparkSession): Unit = {
    import graft.operators.{Quantize, Similarity, Vocab}
    val nDocs = 2000000L
    val tokPerDoc = 50L
    def synth(vocab: Int) = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 5 === 0, col("id") % 1000)
            .otherwise(col("id")) * 53 + i), lit(vocab)))))
        .as("text"))
    Seq(100 -> "types-bounded", 5000 -> "near-unique trigrams")
      .foreach { case (v, label) =>
        val docs = synth(v).cache()
        val nTok = docs.count() * tokPerDoc
        time(f"stupidBackoff v$v%-4d ($nTok%11d tokens, $label)") {
          Vocab.stupidBackoffNll(docs, col("doc_id"), col("text"))
            .agg(avg(col("avg_nll"))).collect()
        }
        docs.unpersist()
      }
    // SQ8 over the ops10 clustered corpus: the regime a real embedding
    // table lives in (modes + noise), where int8 resolution preserves
    // neighbor order almost everywhere.
    val n = 1000000L
    val dim = 64
    val cid = col("id") % 64
    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((pmod(hash(cid * 53 + i), lit(2001)) - 1000) / 1000.0) +
          ((pmod(hash(col("id") * 101 + i), lit(2001)) - 1000) / 20000.0))
        .as("embedding")).cache()
    vecs.count()
    val codes = Quantize.sq8Encode(vecs, col("vec_id"), col("embedding"))
      .cache()
    time(f"sq8 encode               ($n%8d rows, dim=$dim)") { codes.count() }
    val queries = vecs.filter(col("vec_id") < 8)
    val cosine = Similarity.bruteForceTopK(vecs, queries,
      "vec_id", "embedding", k = 10).cache()
    time("float32 cosine scan      (8 queries x 1M rows)") { cosine.count() }
    cosine.unpersist()
    // the recall baseline is the exact float64 DOT top-10 — the SAME
    // scoring function unquantized, so the delta is ONLY int8 resolution.
    // (Recall vs the cosine ranking is 0.000 here and means nothing: each
    // cluster holds ~15k vectors within noise of each other, so dot-order
    // vs cosine-order among near-ties picks disjoint top-10 sets.)
    val exactDot = {
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("neighbor_id").asc)
      vecs.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("s", graft.functions.VectorExprs.dot(col("qv"), col("cv")))
        .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select("query_id", "neighbor_id").cache()
    }
    time("float64 dot scan         (ground truth)") { exactDot.count() }
    val sq8 = Quantize.sq8TopK(vecs, queries, "vec_id", "embedding", k = 10)
      .cache()
    time("sq8 dot-product scan     (8 queries x 1M codes)") { sq8.count() }
    val hits = sq8.select("query_id", "neighbor_id")
      .intersect(exactDot).count()
    println(f"[probe]   sq8 recall@10 vs exact dot: ${hits / 80.0}%.3f")
    sq8.unpersist(); exactDot.unpersist(); codes.unpersist(); vecs.unpersist()
  }

  /** Streaming LM count-table ingest (q103's shape) at 100M tokens in 5
    * micro-batches: per-batch cost must track (batch types + accumulated
    * STATE types), never the accumulated token count — counts collapse to
    * the type tables before any state is touched. Reported per batch so
    * growth is visible; then one scoreFromState pass over a 1%-of-corpus
    * probe set. Run: sbt "runMain graft.tools.ScaleProbe lmstream". */
  def lmStreamProbe(spark: SparkSession): Unit = {
    import graft.streaming.NgramLmStream
    val nDocs = 2000000L
    val tokPerDoc = 50L
    val vocab = 5000 // the adversarial near-unique-trigram regime
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 5 === 0, col("id") % 1000)
            .otherwise(col("id")) * 53 + i), lit(vocab)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    val dir = java.nio.file.Files.createTempDirectory("lmstream").toString
    val batch = nDocs / 5
    (0 until 5).foreach { b =>
      time(f"lm ingest batch $b (${batch * tokPerDoc}%10d tokens)") {
        NgramLmStream.ingestBatch(spark,
          docs.filter(col("doc_id") >= b * batch &&
            col("doc_id") < (b + 1) * batch &&
            pmod(col("doc_id"), lit(100)) =!= 0),
          col("doc_id"), col("text"), s"$dir/state")
      }
    }
    val triTypes = spark.read.parquet(s"$dir/state/tri").count()
    println(s"[probe]   accumulated trigram types: $triTypes")
    time(f"scoreFromState   (${nTok / 100}%10d probe tokens)") {
      NgramLmStream.scoreFromState(spark, s"$dir/state",
          docs.filter(pmod(col("doc_id"), lit(100)) === 0),
          col("doc_id"), col("text"))
        .agg(avg(col("avg_nll"))).collect()
    }
    docs.unpersist()
  }

  /** The round-11 extension operators (q111–q118 shapes) at probe scale:
    * Kneser–Ney scoring over 100M tokens at both vocabulary regimes
    * (TYPES-bounded vs near-unique bigrams, the q90/q98 discipline),
    * char-entropy + length-histogram + fertility over the same 100M
    * tokens (all map-side), the per-source cap over 2M docs, directed
    * containment over a 200k-doc corpus with a 5% templated tail, and
    * hard-negative mining + rotation-PQ over 1M vectors. Run:
    * sbt "runMain graft.tools.ScaleProbe ops13". */
  def ops13Probe(spark: SparkSession): Unit = {
    import graft.operators.{Diversity, Mix, NearDup, Quantize, Similarity, Vocab}
    import graft.functions.TextExprs
    val nDocs = 2000000L
    val tokPerDoc = 50L
    def synth(n: Long, vocab: Int) = spark.range(n).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(20)).cast("string").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(vocab)))))
        .as("text"))
    Seq(100 -> "types-bounded", 5000 -> "near-unique bigrams")
      .foreach { case (v, label) =>
        val docs = synth(nDocs, v).cache()
        val nTok = docs.count() * tokPerDoc
        time(f"kneserNey v$v%-4d   ($nTok%11d tokens, $label)") {
          Vocab.kneserNeyNll(docs, col("doc_id"), col("text"))
            .agg(avg(col("avg_nll"))).collect()
        }
        docs.unpersist()
      }
    val docs = synth(nDocs, 5000).cache()
    val nTok = docs.count() * tokPerDoc
    time(f"charEntropy        ($nTok%11d tokens)") {
      docs.select(avg(TextExprs.charEntropy(col("text")))).collect()
    }
    time(f"lengthHistogram    ($nTok%11d tokens)") {
      Diversity.lengthHistogram(docs, col("text"), col("source"))
        .agg(sum(col("n_tokens"))).collect()
    }
    time(f"fertility agg      ($nTok%11d tokens)") {
      docs.select(col("source"),
          TextExprs.bpeishTokenCount(col("text")).cast("long").as("n_bpe"))
        .groupBy("source").agg(sum(col("n_bpe"))).collect()
    }
    time(f"capPerGroup        ($nDocs%11d docs, 20 sources, n=1000)") {
      Mix.capPerGroup(docs, col("doc_id"), col("source"),
        TextExprs.qualityScore(col("text")), n = 1000).count()
    }
    docs.unpersist()
    // containment: 5% of 200k docs drawn from a 500-template pool (~20
    // copies each) — the honest Σ|posting|² cost of exact directed
    // containment on a dup-bearing corpus
    val nSmall = 200000L
    val cdocs = spark.range(nSmall).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(
          when(col("id") % 20 === 0, col("id") % 500)
            .otherwise(col("id")) * 53 + i), lit(5000)))))
        .as("text")).cache()
    cdocs.count()
    time(f"containmentPairs   ($nSmall%11d docs, 5%% templated)") {
      NearDup.containmentPairs(cdocs, col("doc_id"), col("text"),
        n = 3, threshold = 0.5).count()
    }
    cdocs.unpersist()
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"), pmod(col("id"), lit(10)).cast("int").as("label"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 37 + i * 11).cast("float")).as("embedding"))
      .cache()
    vecs.count()
    time(f"hardNegatives      ($nVec%11d vecs, 8 queries)") {
      Similarity.hardNegatives(vecs, vecs.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 10).count()
    }
    val rot = Similarity.orthogonalMatrix(64, seed = 117L)
    val seedIds = (10L to 25L)
    time(f"rotationPq encode  ($nVec%11d vecs, 64x64 rotation + 16-code PQ)") {
      val rotated = vecs.select(col("vec_id"),
        Similarity.rpProject(col("embedding").cast("array<double>"), rot)
          .as("rvec"))
      val cb = Quantize.seedCodebook(rotated, col("vec_id"), col("rvec"),
        seedIds)
      Quantize.pqEncode(rotated, col("vec_id"), col("rvec"), cb, 8, 64)
        .agg(avg(col("distortion"))).collect()
    }
    vecs.unpersist()
  }

  /** Round-11 additions, part 3 (q123–q126): (a) trainLogReg per-
    * iteration cost at 100M tokens — the scan-plus-model-sized-exchange
    * claim, dim 1k and 16k; (b) temperatureSample at 100M tokens / 20
    * sources — should track scan speed (map-side decision); (c) rrfFuse
    * over two million-row rankings — fusion is rank-table-sized, not
    * corpus-sized; (d) the q123 per-source tercile composition at 2M
    * docs. Run: sbt "runMain graft.tools.ScaleProbe ops14". */
  def ops14Probe(spark: SparkSession): Unit = {
    import graft.operators.{Classify, Mix, Retrieval, Sketch}
    import graft.functions.TextExprs
    val nDocs = 2000000L
    val tokPerDoc = 50L
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(20)).cast("string").as("source"),
      (pmod(col("id"), lit(5)) < 2).cast("int").as("y"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(5000)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    Seq(1024, 16384).foreach { dim =>
      time(f"trainLogReg dim=$dim%-5d ($nTok%11d tokens, 2 iters)") {
        Classify.trainLogRegModel(docs, col("doc_id"), col("text"),
          col("y"), dim = dim, lr = 0.5, iters = 2)
      }
    }
    time(f"temperatureSample  ($nTok%11d tokens, 20 sources)") {
      Mix.temperatureSample(
        docs.select(col("doc_id"), col("source"),
          TextExprs.tokenCount(col("text")).as("n_toks")),
        col("doc_id"), col("source"), col("n_toks"),
        alpha = 0.7, budget = nTok / 10).count()
    }
    time(f"sourceQualityTerciles ($nDocs%10d docs, 20 sources, k=4096)") {
      val scored = docs.select(col("doc_id"), col("source"),
        round(TextExprs.qualityScore(col("text")), 6).as("quality"))
      val qs = Sketch.quantileSketchByGroup(scored, col("source"),
        col("quality"), col("doc_id"), 4096, Seq(1.0 / 3, 2.0 / 3))
      val bounds = qs.groupBy(col("grp"))
        .agg(min(col("est_value")).as("t1"), max(col("est_value")).as("t2"))
      scored.join(broadcast(bounds), col("source") === col("grp")).count()
    }
    docs.unpersist()
    // fusion cost is a function of the RANK TABLES (queries × depth),
    // not the corpus: two synthetic million-row arms, 10k queries × 100
    val arm = (salt: Int) => spark.range(1000000L).select(
      concat(lit("q"), pmod(col("id"), lit(10000))).as("query_id"),
      (pmod(col("id") * salt, lit(100)) + 1).cast("int").as("rank"),
      pmod(col("id") * 31 + salt, lit(500000)).as("doc_id"))
    time(f"rrfFuse            (    2x1M rank rows, 10k queries)") {
      Retrieval.rrfFuse(Seq(arm(7), arm(13)), k = 10).count()
    }
  }

  /** Round-11 additions, part 4 (q130–q138): corpus diff, unigram
    * Viterbi (type-table DP), span corruption, dataset card, ROC-AUC,
    * and margin alignment (bounded query shard × 1M corpus — the
    * documented mining shape). Run: sbt "runMain graft.tools.ScaleProbe
    * ops15". */
  def ops15Probe(spark: SparkSession): Unit = {
    import graft.operators.{Classify, Datasheet, Dedup, Mask, Similarity, Vocab}
    val nDocs = 2000000L
    val tokPerDoc = 50L
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(20)).cast("string").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(5000)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    val vocab = Seq("w1" -> -2500000L, "w12" -> -2800000L,
      "w123" -> -3000000L, "w2" -> -3100000L, "w23" -> -3200000L)
    time(f"unigramNll         ($nTok%11d tokens, 5k-token type table)") {
      Vocab.unigramNll(docs, col("doc_id"), col("text"), vocab,
        -4200000L).agg(sum(col("nll_e6"))).collect()
    }
    time(f"spanCorrupt        ($nTok%11d tokens)") {
      Mask.spanCorrupt(docs, col("doc_id"), col("text"), 4, 5)
        .agg(sum(col("n_masked"))).collect()
    }
    time(f"corpusDiff         ($nDocs%11d docs x 2 snapshots)") {
      Dedup.corpusDiff(docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"))
        .groupBy(col("status")).count().collect()
    }
    time(f"datasheet card     ($nDocs%11d docs, 20 sources)") {
      Datasheet.perSourceCard(docs, col("doc_id"), col("text"),
        col("source")).collect()
    }
    time(f"aucRoc + sweep     ($nDocs%11d scored docs)") {
      val scored = docs.select(
        round(pmod(hash(col("doc_id")), lit(10000)).cast("double") /
          10000.0, 4).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      Classify.aucRoc(scored, col("score"), col("y")).collect()
      Classify.evalBinary(scored, col("score"), col("y"),
        Seq(0.3, 0.5, 0.7)).collect()
    }
    docs.unpersist()
    val nVec = 1000000L
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 37 + i * 11).cast("float")).as("embedding"))
      .cache()
    vecs.count()
    // broadcast path: BOTH sets are broadcast as queries in one of the
    // two directions, so both must be bounded — the fixture regime
    time(f"marginAlign        (1k x 50k, broadcast path)") {
      Similarity.marginAlign(vecs.filter(col("vec_id") < 1000),
        vecs.filter(col("vec_id") >= 1000 && col("vec_id") < 51000),
        "vec_id", "embedding", 4).count()
    }
    // sharded path at the SAME configuration — no broadcast of either
    // side, blocks stream through the shard-pair join; then a 4x-pair
    // configuration (2k x 100k) that the broadcast path's backward
    // pass could not survive at mining scale
    time(f"marginAlign        (1k x 50k, sharded, shards=4)") {
      Similarity.marginAlign(vecs.filter(col("vec_id") < 1000),
        vecs.filter(col("vec_id") >= 1000 && col("vec_id") < 51000),
        "vec_id", "embedding", 4, shards = 4).count()
    }
    time(f"marginAlign        (2k x 100k, sharded, shards=8)") {
      Similarity.marginAlign(vecs.filter(col("vec_id") < 2000),
        vecs.filter(col("vec_id") >= 2000 && col("vec_id") < 102000),
        "vec_id", "embedding", 4, shards = 8).count()
    }
    vecs.unpersist()
  }

  /** Isolated quality-scan probe (round-13): the shared qualityScore
    * constant on the q30/q115/q123/q135 paths — ops13/ops15 measured
    * the regex-cascade form at ~45–50 s per scan at this size. Times
    * the raw score scan, the datasheet card (one scan + panel aggs),
    * and the capPerGroup ops13 stage, so a before/after of the
    * tokenize-once + letter_units rewrite is one 2-minute run.
    * Run: sbt "runMain graft.tools.ScaleProbe qs". */
  def qualityProbe(spark: SparkSession): Unit = {
    import graft.functions.TextExprs
    import graft.operators.{Datasheet, Mix}
    val nDocs = 2000000L
    val tokPerDoc = 50L
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(20)).cast("string").as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokPerDoc - 1)),
        i => concat(lit("w"), pmod(hash(col("id") * 53 + i), lit(5000)))))
        .as("text")).cache()
    val nTok = docs.count() * tokPerDoc
    // the pre-round-13 formula, spelled out (it's also the oracle SQL's
    // shape): regexp_replace letter strip + TWO regex splits per row —
    // kept as a permanent same-run baseline for the rewrite below
    val stops = array(TextExprs.defaultStopwords.map(lit): _*)
    def oldQuality(text: org.apache.spark.sql.Column) = {
      val ts = split(trim(text), "\\s+")
      val tsL = split(trim(lower(text)), "\\s+")
      val lenScore = least(size(ts).cast("double") / 100.0, lit(1.0))
      val stopScore = least(size(array_intersect(tsL, stops)).cast("double") /
        greatest(size(tsL), lit(1)).cast("double") * 5.0, lit(1.0))
      val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double")
      alpha * 0.4 + stopScore * 0.3 + lenScore * 0.3
    }
    time(f"qualityScore scan, regex-cascade form ($nTok%11d tokens)") {
      docs.select(sum(round(oldQuality(col("text")), 6))).collect()
    }
    time(f"qualityScore scan  ($nTok%11d tokens)") {
      docs.select(sum(round(TextExprs.qualityScore(col("text")), 6)))
        .collect()
    }
    time(f"datasheet card     ($nDocs%11d docs, 20 sources)") {
      Datasheet.perSourceCard(docs, col("doc_id"), col("text"),
        col("source")).collect()
    }
    time(f"capPerGroup        ($nDocs%11d docs, 20 sources, n=1000)") {
      Mix.capPerGroup(docs, col("doc_id"), col("source"),
        TextExprs.qualityScore(col("text")), n = 1000).count()
    }
    docs.unpersist()
    ()
  }

  /** Round-13 probe: the LEARNED-coarse two-stage ANN serving path at
    * mining scale — sample-trained k-means coarse quantizer (256 lists),
    * kernel-path PQ encode of 1M×64d, probe-pruned ADC shortlist, exact
    * L2 re-rank, and an honest recall@10 against the exact baseline.
    * Run: sbt "runMain graft.tools.ScaleProbe ops16". */
  def ops16Probe(spark: SparkSession): Unit = {
    import graft.operators.{Quantize, Similarity}
    val nVec = 1000000L
    // CLUSTERED vectors, not the ops15 sin curve: that curve wraps so
    // densely that exact 10th-NN distances round to zero and the exact
    // top-10 is an arbitrary pick among thousands of ties — a
    // degenerate ANN benchmark. Here: 1000 cluster centers (unit-scale
    // sin basis) + 0.15-amplitude per-id noise → within-cluster
    // squared distances ~1.4 vs cross-cluster ~64, the structure IVF
    // actually serves and an honest recall target.
    val nClusters = 1000
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        (sin(pmod(col("id"), lit(nClusters)) * 37 + i * 11) +
          sin(col("id") * 101 + i * 13) * 0.15).cast("float"))
        .as("embedding"))
      .cache()
    vecs.count()
    val coarse = time("learnedCoarse      (k-means 256 lists, 100k sample)") {
      Quantize.learnedCoarse(vecs, col("embedding"), nLists = 256,
        seed = 42L)
    }
    // RESIDUAL encoding is what makes IVFADC servable on clustered
    // data: raw-vector PQ error is centroid-scale and swamps the
    // within-cluster distances the top-10 lives on (the ops10 finding —
    // measured here too: the raw-code path reads recall ~0.09 where
    // residual reads ~1); residuals are within-list-scale, so the same
    // 64-code budget resolves them.
    val rb = Quantize.residualSeedCodebook(vecs, col("vec_id"),
      col("embedding"), 0L until 64L, coarse)
    val listC = Quantize.ivfListCol(col("embedding"), coarse)
    val codes = Quantize.pqEncode(vecs, col("vec_id"),
        Quantize.ivfResidualCol(col("embedding"), coarse, listC),
        rb, 8, 64, keep = Seq(listC.as("list_id")))
      .drop("distortion").cache()
    time(f"residual encode    ($nVec%11d rows, kernel path, 64-code m=8)") {
      codes.count()
    }
    val qset = vecs.filter(col("vec_id") < 1000)
    val ann = time("serve 1k queries   (residual IVFADC nProbe=16/256 R=100 + exact rerank k=10)") {
      val shortlist = Quantize.ivfPqResidualTopK(codes, qset,
        "vec_id", "embedding", coarse, rb, 8, 64, nProbe = 16, k = 100)
      val r = Quantize.rerankL2(shortlist, vecs, qset,
        "vec_id", "embedding", 10).cache()
      r.count(); r
    }
    val exact = time("exact L2 baseline  (1k x 1M brute force)") {
      val e = Similarity.bruteForceTopKL2(vecs, qset,
        "vec_id", "embedding", 10).cache()
      e.count(); e
    }
    val hits = exact.select("query_id", "neighbor_id")
      .join(ann.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
    println(f"[probe] recall@10 at 1M: $hits/${1000 * 10} = ${hits / 10000.0}%.3f " +
      "(nProbe=16/256 -> 6.25%% of corpus scanned)")
    // identity recall is the wrong lens on this synthetic set: the
    // sin-curve vectors wrap, so thousands of corpus points are
    // near-equidistant from every query and the exact top-10 is an
    // arbitrary pick among ties. The meaningful serving metric is the
    // RADIUS RATIO — the ANN's 10th-neighbor distance over the exact
    // 10th-neighbor distance (1.0 = returned neighbors are as near as
    // the optimal ones, whatever their ids).
    val annR = ann.groupBy("query_id").agg(max(col("dist")).as("ar"))
    val exR = exact.groupBy("query_id").agg(max(col("dist")).as("er"))
    val ratioRow = annR.join(exR, "query_id")
      .filter(col("er") > 0) // exact-duplicate 10th neighbor: ratio undefined
      .select(avg(sqrt(col("ar")) / sqrt(col("er"))).as("r"))
      .head()
    val ratio = if (ratioRow.isNullAt(0)) Double.NaN else ratioRow.getDouble(0)
    println(f"[probe] radius ratio at 1M: mean(ann 10th-NN dist / exact 10th-NN dist) = $ratio%.4f")
    ann.unpersist(); exact.unpersist(); codes.unpersist(); vecs.unpersist()
    ()
  }

  /** Round-13 operators at 100× fixture scale (50k docs / 100k media
    * ids): DoReMi reweighting (the one corpus-sized shuffle is the
    * (src, token) count table), PMI collocations (pair explode + two
    * vocab-sized marginal joins), CDC chunking (map-side only — the
    * probe pins the no-shuffle claim at volume), the robust outlier
    * panel (two scans + two grouped exact percentiles), and the
    * perceptual triple (encode + REAL decode + fingerprint + banded
    * Hamming pairs per modality). Results recorded in SCALE.md. */
  def ops17Probe(spark: SparkSession): Unit = {
    import graft.operators.{Chunk, Datasheet, Mix, NearDup, Vocab}
    import graft.multimodal.MultimodalOps
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        col("text"))
      .cache()
    val nDocs = docs.count()
    println(s"[probe] corpus: $nDocs docs, 20 sources")
    time(f"doremiReweight     ($nDocs%8d docs, eta 1.0, c 0.2)") {
      Mix.doremiReweight(docs, col("text"), col("source"), 1.0, 0.2)
        .collect().length
    }
    time(f"pmiCollocations    ($nDocs%8d docs, k 30, minCount 5)") {
      Vocab.pmiCollocations(docs, col("text"), 30, 5).collect().length
    }
    val nChunks = time(f"cdcChunks          ($nDocs%8d docs, divisor 16)") {
      Chunk.cdcChunks(docs, col("doc_id"), col("text"), 16, 3).count()
    }
    println(s"[probe]   -> $nChunks chunks")
    time(f"robustOutliers     ($nDocs%8d docs, z 3.0)") {
      Datasheet.robustOutliers(docs,
        graft.functions.TextExprs.tokenCount(col("text")),
        col("source"), 3.0).collect().length
    }
    val ids = spark.range(100000L).select(col("id").as("vec_id"))
    val nI = time("image dHash pairs  (100k REAL PNG encode+decode)") {
      NearDup.hammingBandPairs(
        MultimodalOps.dHashes(
          MultimodalOps.gradientImages(ids)).toDF(), 6).count()
    }
    val nA = time("audio env pairs    (100k REAL WAV encode+decode)") {
      NearDup.hammingBandPairs(
        MultimodalOps.envelopeHashes(
          MultimodalOps.toneAudio(ids)).toDF(), 6).count()
    }
    val nV = time("video curve pairs  (100k REAL AVI encode+parse)") {
      NearDup.hammingBandPairs(
        MultimodalOps.curveHashes(
          MultimodalOps.clipVideo(ids)).toDF(), 6).count()
    }
    println(s"[probe]   -> pairs image=$nI audio=$nA video=$nV")
    docs.unpersist()
    ()
  }

  /** The q182–q185 operators at 100× fixtures: rank normalization (the
    * count-table CDF vs the corpus-sort it avoids), the dedup-aware
    * mix composition, three streaming-outlier polls plus the panel
    * read, and the banded-Hamming recall audit at 100k signatures. */
  def ops18Probe(spark: SparkSession): Unit = {
    import graft.operators.{Classify, Datasheet, NearDup}
    import graft.multimodal.MultimodalOps
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        col("text"))
      .cache()
    val nDocs = docs.count()
    println(s"[probe] corpus: $nDocs docs, 20 sources")
    val score = round(graft.functions.TextExprs
      .qualityScore(col("text")), 6)
    time(f"rankNormalize      ($nDocs%8d docs, CDF on count table)") {
      Classify.rankNormalize(docs, col("doc_id"), score, col("source"))
        .count()
    }
    val state = java.nio.file.Files
      .createTempDirectory("ops18_outliers").toString
    time(f"outlier stream     (3 polls of $nDocs%8d docs / 3)") {
      (0 until 3).foreach { b =>
        graft.streaming.OutlierStream.ingestBatch(spark,
          docs.filter(col("doc_id") % 3 === b),
          graft.functions.TextExprs.tokenCount(col("text")),
          col("source"), state)
      }
    }
    time("outlier panel read (zero corpus access)") {
      graft.streaming.OutlierStream.readPanel(spark, state, 3.0)
        .collect().length
    }
    val ids = spark.range(100000L).select(col("id").as("vec_id"))
    val sigs = MultimodalOps.dHashes(
      MultimodalOps.gradientImages(ids)).toDF().cache()
    sigs.count()
    val qa = time("hammingBandQa      (100k sigs, 1-in-50 sample)") {
      NearDup.hammingBandQa(sigs, maxHamming = 6, sampleMod = 50L)
        .collect().head
    }
    println(s"[probe]   -> n_sample=${qa.getLong(0)} " +
      s"true=${qa.getLong(1)} caught=${qa.getLong(2)} " +
      s"recall=${if (qa.isNullAt(3)) "null" else qa.getDouble(3)}")
    sigs.unpersist(); docs.unpersist()
    ()
  }

  /** The q190–q201 block at mining scale: 5M synthetic events / 200k
    * keys for the event-analytics family (SCD2, both funnels, retention,
    * as-of attribution), and 100× document fixtures for the
    * training-prep additions (padding audit, Gumbel resampling, OOV
    * batch+stream, UniMax, OLS, TextRank with a materialized edge
    * table). */
  def ops19Probe(spark: SparkSession): Unit = {
    import graft.operators.{Dsir, Funnel, Mix, Pack, Scd, TextRank, Trend, Vocab}
    import graft.functions.TextExprs
    val nEv = 5000000L
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    val events = spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 2654435761L, lit(5184000L)) * 1000000L).as("ts"),
      // 199999 keys (coprime with 5): a key's successive events CYCLE
      // through types, so SCD2's no-op suppression has real work — with
      // a 5-divisible key count every key would be constant-typed
      pmod(col("id") * 40503L, lit(199999L)).as("user_id"),
      element_at(types, (pmod(col("id"), lit(5)) + 1).cast("int"))
        .as("event_type"),
      (pmod(col("id"), lit(1000)).cast("double") / 100.0).as("value"))
      .cache()
    val nE = events.count()
    println(s"[probe] events: $nE rows, 199999 keys, 60-day span")
    val stages = Seq("view", "click", "purchase")
    val nVer = time(f"scd2               ($nE%8d events, 200k keys)") {
      Scd.scd2(events, Seq("user_id"), col("ts"), col("event_id"),
        col("event_type"), Seq(col("value"))).count()
    }
    println(s"[probe]   -> $nVer versions")
    time(f"funnel             ($nE%8d events, 3 stages)") {
      Funnel.funnel(events, col("user_id"), col("ts"),
        col("event_type"), stages).collect().length
    }
    time(f"funnelWithin       ($nE%8d events, 24h window)") {
      Funnel.funnelWithin(events, col("user_id"), col("ts"),
        col("event_type"), stages, 86400L).collect().length
    }
    time(f"weeklyRetention    ($nE%8d events)") {
      Funnel.weeklyRetention(events, col("user_id"), col("ts")).count()
    }
    time(f"lastTouchAttrib    ($nE%8d events, 2h lookback)") {
      Funnel.lastTouchAttribution(events, col("user_id"), col("ts"),
        col("event_type"), col("event_id"), col("value"),
        "purchase", Seq("view", "click"), 7200L).collect().length
    }
    events.unpersist()
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        col("text"))
      .cache()
    val nD = docs.count()
    println(s"[probe] corpus: $nD docs, 20 sources")
    time(f"paddingOverhead    ($nD%8d docs, rows 32 / width 16)") {
      Pack.paddingOverhead(docs.select(col("doc_id"),
          TextExprs.tokenCount(col("text")).as("nt")),
        col("doc_id"), col("nt"), 32, 16).collect().length
    }
    time(f"gumbelTopK         ($nD%8d docs, 1024 buckets, k 20)") {
      Dsir.gumbelTopK(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), col("doc_id"),
        col("text"), col("source"), 1024, 20).count()
    }
    time(f"oovRateByGroup     ($nD%8d docs, minCount 5)") {
      Vocab.oovRateByGroup(docs, col("source"), col("text"), 5L)
        .collect().length
    }
    val state = java.nio.file.Files
      .createTempDirectory("ops19_oov").toString
    time(f"oov stream         (3 polls of $nD%8d docs / 3)") {
      (0 until 3).foreach { b =>
        graft.streaming.OovStream.ingestBatch(spark,
          docs.filter(col("doc_id") % 3 === b),
          col("source"), col("text"), state)
      }
    }
    time("oov rate read      (zero corpus access)") {
      graft.streaming.OovStream.readRates(spark, state, 5L)
        .collect().length
    }
    time(f"unimaxAllocate     ($nD%8d docs -> 20 totals)") {
      Mix.unimaxAllocate(docs, col("source"),
        TextExprs.tokenCount(col("text")), 2600000L, 1.0)
        .collect().length
    }
    time(f"olsByGroup         ($nD%8d docs, chars vs tokens)") {
      Trend.olsByGroup(docs, col("source"), length(col("text")),
        TextExprs.tokenCount(col("text"))).collect().length
    }
    val edges = TextRank.cooccurrenceEdges(docs, col("text"), 50L).cache()
    val nEd = edges.count()
    println(s"[probe] textrank edges (minCount 50): $nEd")
    time(f"textRankFromEdges  ($nEd%8d edges, 3 iterations)") {
      TextRank.textRankFromEdges(edges, 0.85, 3, 25).collect().length
    }
    edges.unpersist(); docs.unpersist()
    ()
  }

  /** The q210–q218 block at mining scale: corpus-health panels on a
    * 100× doc corpus (count-table-bounded tails), the one-scan
    * truncation sweep vs per-length single scans, Fleiss over hash
    * gates, the threshold curve over a 5M-row synthetic pair table,
    * and the vector panels (affinity, silhouette) at 500k×64. */
  def ops20Probe(spark: SparkSession): Unit = {
    import graft.operators.{Classify, Datasheet, Mask, NearDup, Pack,
      Similarity, Vocab}
    import graft.functions.TextExprs
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        col("text"))
      .cache()
    val nD = docs.count()
    println(s"[probe] corpus: $nD docs, 20 sources")
    time(f"concentration      ($nD%8d docs, 20 groups)") {
      Vocab.concentrationByGroup(docs, col("source"), col("text"))
        .collect().length
    }
    time(f"heapsFit           ($nD%8d docs -> 20 points)") {
      Vocab.heapsFitByGroup(docs, col("source"), col("text"))
        .collect().length
    }
    time(f"truncationSweep    ($nD%8d docs, 4 lengths, 1 scan)") {
      Pack.truncationSweep(docs,
        TextExprs.tokenCount(col("text")), Seq(32, 64, 128, 256))
        .collect().length
    }
    time(f"4x truncationLoss  (the swept alternative)") {
      Seq(32, 64, 128, 256).map { l =>
        Pack.truncationLoss(docs, lit("all"),
          TextExprs.tokenCount(col("text")), l).collect().length
      }.sum
    }
    time(f"prefixLmSplit      ($nD%8d docs, full text out)") {
      Mask.prefixLmSplit(docs, col("doc_id"), col("text")).count()
    }
    time(f"fleissKappa        ($nD%8d docs, 3 hash gates)") {
      Classify.fleissKappa(docs.select(
          (pmod(col("doc_id"), lit(7)) < 4).as("a"),
          (pmod(col("doc_id"), lit(5)) < 3).as("b"),
          (pmod(col("doc_id"), lit(3)) < 2).as("c")),
        Seq(col("a"), col("b"), col("c"))).collect().length
    }
    docs.unpersist()
    val nPairs = 5000000L
    val pairs = spark.range(nPairs).select(
      pmod(col("id") * 40503L, lit(1000000L)).as("id_a"),
      (pmod(col("id") * 2654435761L, lit(1000000L)) + 1000000L)
        .as("id_b"),
      (lit(0.8) + pmod(col("id"), lit(2000)).cast("double") / 10000.0)
        .as("jaccard")).cache()
    val nP = pairs.count()
    time(f"thresholdCurve     ($nP%8d pairs, 4 cuts)") {
      NearDup.thresholdCurve(pairs, col("id_a"), col("id_b"),
        col("jaccard"), Seq(0.8, 0.85, 0.9, 0.95), 0.8)
        .collect().length
    }
    pairs.unpersist()
    val nVec = 500000L
    val dims = 64
    def vecExpr(idCol: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = transform(
      sequence(lit(0), lit(dims - 1)),
      j => (pmod(idCol * 31L + j.cast("long") * 17L, lit(1000L))
        .cast("double") / 500.0 - 1.0))
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      pmod(col("id"), lit(20)).cast("int").as("label"),
      vecExpr(col("id")).as("embedding")).cache()
    val nV = vecs.count()
    println(s"[probe] vectors: $nV x $dims, 20 labels")
    time(f"sourceAffinity     ($nV%8d vecs -> 190 pairs)") {
      Datasheet.sourceAffinity(vecs, col("embedding"), col("label"),
          dims = dims)
        .collect().length
    }
    val cents = (0 until 16).map(c => c -> Seq.tabulate(dims)(j =>
      ((c * 31L + j * 17L) % 1000L).toDouble / 500.0 - 1.0))
    time(f"clusterSilhouette  ($nV%8d vecs, 16 centroids)") {
      Similarity.clusterSilhouette(vecs, "embedding", cents)
        .collect().length
    }
    vecs.unpersist()
    ()
  }

  /** The q219–q233 block at mining scale: corpus-health/balance panels
    * on a 100× doc corpus, event panels (DAU/WAU, volume anomaly,
    * association rules, inter-arrival) on 5M events / 200k keys, and
    * the ActiveStream fold. */
  def ops21Probe(spark: SparkSession): Unit = {
    import graft.operators.{Datasheet, Funnel, Mix, Sessionize, Vocab}
    val langs = array(lit("en"), lit("fr"), lit("de"), lit("es"),
      lit("zh"))
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        element_at(langs, (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
          .as("lang"),
        col("text"))
      .cache()
    val nD = docs.count()
    println(s"[probe] corpus: $nD docs, 20 sources, 5 langs")
    time(f"entropyByGroup     ($nD%8d docs, 20 groups)") {
      Vocab.entropyByGroup(docs, col("source"), col("text"))
        .collect().length
    }
    time(f"categoricalBalance ($nD%8d docs, 20x5 grid)") {
      Datasheet.categoricalBalance(docs, col("source"), col("lang"))
        .collect().length
    }
    time(f"columnProfile      ($nD%8d docs, 3 columns)") {
      Datasheet.columnProfile(docs, Seq("doc_id", "lang", "source"))
        .collect().length
    }
    time(f"rebalanceToTarget  ($nD%8d docs, 5 targets)") {
      Mix.rebalanceToTarget(docs, col("doc_id"), col("lang"),
        Seq("en" -> 0.25, "fr" -> 0.25, "de" -> 0.25,
          "es" -> 0.125, "zh" -> 0.125)).collect().length
    }
    docs.unpersist()
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    val nEv = 5000000L
    val events = spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 2654435761L, lit(5184000L)) * 1000000L).as("ts"),
      pmod(col("id") * 40503L, lit(199999L)).as("user_id"),
      element_at(types, (pmod(col("id"), lit(5)) + 1).cast("int"))
        .as("event_type"))
      .cache()
    val nE = events.count()
    println(s"[probe] events: $nE rows, 200k keys, 60-day span")
    time(f"activeUsers        ($nE%8d events, 7d window)") {
      Funnel.activeUsers(events, col("user_id"), col("ts"), 7)
        .collect().length
    }
    time(f"volumeAnomaly      ($nE%8d events, z=2)") {
      Funnel.volumeAnomaly(events, col("event_type"), col("ts"), 2.0)
        .collect().length
    }
    time(f"associationRules   ($nE%8d events, 1h gap)") {
      Sessionize.associationRules(events, Seq("user_id"), col("ts"),
        col("event_id"), col("event_type"), 3600L).collect().length
    }
    time(f"interArrival       ($nE%8d events)") {
      Sessionize.interArrival(events, Seq("user_id"), col("ts"),
        col("event_id"), col("event_type")).collect().length
    }
    val state = java.nio.file.Files
      .createTempDirectory("ops21_act").toString
    time(f"ActiveStream       (3 polls of $nE%8d / 3)") {
      (0 until 3).foreach { b =>
        graft.streaming.ActiveStream.ingestBatch(spark,
          events.filter(col("event_id") % 3 === b),
          col("user_id"), col("event_type"), col("ts"), state)
      }
    }
    time("active/volume read (zero corpus access)") {
      graft.streaming.ActiveStream.readActive(spark, 7, state)
        .collect().length +
        graft.streaming.ActiveStream.readVolume(spark, 2.0, state)
          .collect().length
    }
    events.unpersist()
    ()
  }

  /** The q234–q238 block (UQ + experimentation) at mining scale. */
  def ops22Probe(spark: SparkSession): Unit = {
    import graft.operators.{Funnel, Trend}
    import graft.functions.TextExprs
    val docs = genDocs(spark, 100).select(col("doc_id"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"),
        col("text"))
      .cache()
    val nD = docs.count()
    println(s"[probe] corpus: $nD docs, 20 sources")
    time(f"jackknifeSummary   ($nD%8d docs, 20 groups)") {
      Trend.jackknifeSummary(docs, col("source"),
        TextExprs.tokenCount(col("text")), lit(1L)).collect().length
    }
    time(f"jackknifePanel     ($nD%8d docs, 20 groups)") {
      Trend.jackknifePanel(docs, col("source"),
        TextExprs.tokenCount(col("text")), lit(1L)).collect().length
    }
    docs.unpersist()
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    val nEv = 5000000L
    val events = spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 2654435761L, lit(5184000L)) * 1000000L).as("ts"),
      pmod(col("id") * 40503L, lit(199999L)).as("user_id"),
      element_at(types, (pmod(col("id"), lit(5)) + 1).cast("int"))
        .as("event_type"))
      .cache()
    val nE = events.count()
    println(s"[probe] events: $nE rows, 200k keys")
    time(f"abTest             ($nE%8d events)") {
      Funnel.abTest(events, col("user_id"), col("event_type"),
        "purchase").collect().length
    }
    time(f"funnelBySplit      ($nE%8d events, 3 stages)") {
      Funnel.funnelBySplit(events, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))
        .collect().length
    }
    events.unpersist()
    ()
  }

  /** The q242 end-to-end curation composition at mining scale, with
    * EXECUTED-plan scan accounting — the q175/q201 lazy-recompute lesson
    * generalized to the whole DAG: the wall figure says what the cut
    * costs; the scan counts say how many times the corpus was actually
    * read (the quality/normalize/dedup chain must hit parquet ONCE and
    * feed every downstream consumer from the persisted dedup table).
    * Corpus = sf0.01 documents ×`mult` with per-copy perturbed text, so
    * each base doc becomes a near-dup family of `mult` members — CC
    * edges ≈ 500·mult²/2, the worst-case-by-construction dup regime. */
  def ops23Probe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq(4, 20).foreach { mult =>
      val base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      val dir = s"/tmp/ops23_$mult"
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      spark.range(mult).crossJoin(base).select(
          (col("doc_id") + col("id") * 500L).as("doc_id"),
          col("lang"),
          concat(col("text"), lit(" copy"), col("id")).as("text"))
        .write.parquet(s"$dir/documents.parquet")
      val nD = 500L * mult
      time(f"ops23 full DAG      ($nD%7d docs, families of $mult)") {
        graft.operators.CacheHygiene.withRddCleanup(spark) {
          graft.queries.TestdataQueries.q242CurationInner(spark, dir)
            .count()
        }
      }
      // scan accounting: execute the pre-shard stage and walk its FINAL
      // adaptive plan — parquet scans say how often the corpus was read,
      // InMemoryTableScans say how often the persisted dedup table fed a
      // consumer instead of a recompute
      graft.operators.CacheHygiene.withRddCleanup(spark) {
        val kept = graft.queries.TestdataQueries
          .q242CurationKept(spark, dir)
        kept.count()
        def unwrap(p: SparkPlan): SparkPlan = p match {
          case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
          case s: QueryStageExec => unwrap(s.plan)
          case other => other
        }
        def walk(p: SparkPlan): Seq[String] = {
          val h = unwrap(p)
          h.nodeName +: (h.children.flatMap(walk) ++
            h.subqueries.flatMap(walk))
        }
        val names = walk(kept.queryExecution.executedPlan)
        println(s"[probe] ops23 kept-stage executed plan (mult=$mult): " +
          s"parquetScans=${names.count(_.contains("Scan parquet"))} " +
          s"inMemoryScans=${names.count(_.contains("InMemoryTableScan"))} " +
          s"shuffles=${names.count(_ == "Exchange")} " +
          s"broadcasts=${names.count(_ == "BroadcastExchange")} " +
          s"reused=${names.count(_.startsWith("Reused"))}")
      }
    }
  }

  /** The round-15 streaming arms at mining scale: CurationStream's
    * per-poll cost must be FLAT in the accumulated corpus (the seen
    * store is probed by an anti-join whose build side is the BATCH, the
    * holdout probe is a fixed broadcast, the shard pass range-shuffles
    * only the batch), and RetentionStream/ShardStream per-poll costs
    * must likewise track the batch. Three accumulated sizes, one
    * identical poll at each. */
  def ops24Probe(spark: SparkSession): Unit = {
    import graft.streaming.{CurationStream, RetentionStream, ShardStream}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def text(idc: org.apache.spark.sql.Column) =
      concat_ws(" ", transform(sequence(lit(0), lit(99)),
        i => concat(lit("the w"), pmod(hash(idc * 31 + i), lit(100000)))))
    val bench = spark.range(500)
      .select((col("id") + 900000000L).as("doc_id"),
        text(col("id") + 800000000L).as("text"))
    val poll = 5000L
    Seq(25000L, 100000L, 400000L).foreach { nCorpus =>
      val base = s"/tmp/ops24_$nCorpus"
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      CurationStream.installBenchmark(spark, bench, "text", n = 3,
        stateDir = base)
      val seed = spark.range(nCorpus)
        .select(col("id").as("doc_id"), text(col("id")).as("text"))
      time(f"ops24 curation seed  corpus=$nCorpus%7d") {
        CurationStream.ingestBatch(spark, seed, "doc_id", "text",
          qualityFloor = 0.2, n = 3, budget = 100000L, stateDir = base)
      }
      val batch = spark.range(poll)
        .select((col("id") + nCorpus).as("doc_id"),
          text(col("id") + 500000000L).as("text"))
      time(f"ops24 curation poll  corpus=$nCorpus%7d (5k docs)") {
        CurationStream.ingestBatch(spark, batch, "doc_id", "text",
          qualityFloor = 0.2, n = 3, budget = 100000L, stateDir = base)
      }
      // retention: same flat-poll claim over an accumulated event state
      val rBase = s"/tmp/ops24r_$nCorpus"
      fs.delete(new org.apache.hadoop.fs.Path(rBase), true)
      val ev0 = spark.range(nCorpus).select(
        pmod(col("id"), lit(200000L)).as("user_id"),
        timestamp_micros(lit(1704067200000000L) +
          pmod(col("id") * 2654435761L, lit(5184000L)) * 1000000L).as("ts"))
      RetentionStream.ingestBatch(spark, ev0, "user_id", "ts", rBase)
      val ev1 = spark.range(poll).select(
        pmod(col("id") * 7L, lit(200000L)).as("user_id"),
        timestamp_micros(lit(1709251200000000L) +
          pmod(col("id") * 40503L, lit(2592000L)) * 1000000L).as("ts"))
      time(f"ops24 retention poll corpus=$nCorpus%7d (5k events)") {
        RetentionStream.ingestBatch(spark, ev1, "user_id", "ts", rBase)
      }
    }
  }

  /** Round-16 probe: the q243 training path after the refit (the r15
    * weak flag — VERDICT r15 "What's wrong" #1). learnedSubCodebooks
    * must now read the corpus ONCE (a hash-ordered
    * TakeOrderedAndProject sample collected driver-side, then m local
    * Lloyd fits over slices of that one array), where the r15
    * formulation ran m independent MLlib fits, each paying its own
    * count() + persist-materialize scan (~2m corpus passes). Measured
    * here with a scan-STAGE counter (completed stages whose RDD chain
    * contains a FileScanRDD — i.e. how many stages re-read parquet),
    * on the exact q243 training column (IVF residuals) at two SFs,
    * with the r15 shape replayed inline for the machine-recorded
    * delta. Timing is secondary to the pass count: at 100 TB the old
    * path's extra 2m−1 scans ARE the cost. */
  def ops26Probe(spark: SparkSession): Unit = {
    val scanStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit =
        if (s.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scanStages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def counted[A](label: String)(body: => A): A = {
      // the listener bus is async (and private[spark]) — a short drain
      // sleep around the measured region is enough for a dev probe
      Thread.sleep(1500); scanStages.set(0)
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500)
      println(f"[probe] ops26 $label%-38s scanStages=${scanStages.get}%3d wall=$wall%7.2fs")
      r
    }
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { d =>
      val embs = spark.read.parquet(s"$d/embeddings.parquet")
      val coarse = graft.operators.Quantize.learnedCoarse(embs,
        col("embedding"), nLists = 8, seed = 42L)
      val listC = graft.operators.Quantize.ivfListCol(col("embedding"),
        coarse)
      val resC = graft.operators.Quantize.ivfResidualCol(col("embedding"),
        coarse, listC)
      val (m, dim, k) = (8, 64, 16)
      // r15 shape, replayed for the delta (Quantize.scala:673–692 at
      // commit 2d40bb0): one MLlib fit per subspace, each with its own
      // count() + persist-materialize pass over the full residual column
      counted(s"$d r15 m-MLlib-fits") {
        import org.apache.spark.ml.functions.array_to_vector
        val sub = dim / m
        (0 until m).foreach { j =>
          val fv = embs.select(array_to_vector(
            slice(resC.cast("array<double>"), j * sub + 1, sub))
            .as("features"))
          graft.operators.Similarity.fitQuantizer(fv, k, 7L + j, 100000L)
        }
      }
      counted(s"$d r16 one-pass Lloyd") {
        graft.operators.Quantize.learnedSubCodebooks(embs, resC,
          m, dim, k, seed = 7L)
      }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Round-16 probe: q170's cluster read after the alias-log refit
    * (VERDICT r15 next-round #4). The r15 read recomputed connected
    * components over EVERY pair ever discovered — O(accumulated pairs)
    * per read, the one streaming read that grew with history, and past
    * `localMaxEdges` (1M) it leaves the driver contraction for the
    * iterative propagation loop. The ClusterStream read resolves a
    * #merges-sized forest by pointer doubling and labels vertices with
    * one broadcast join — bounded by merge churn, and (with write-time
    * compression + the compaction swap) the doubling loop converges in
    * one or two passes. Synthetic stream: polls of 200k pairs forming
    * 4-clusters (3 merges per cluster); after each poll, time BOTH
    * reads over the SAME accumulated history. */
  def ops27Probe(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val base = "/tmp/ops27_clusters"
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val pollPairs = 200000L
    val nPolls = 8
    // pair p: group r = p/3 of ids {4r..4r+3}, link 4r+(p%3+1) -> 4r
    def pairsIn(lo: Long, hi: Long) =
      spark.range(lo, hi).select(
        ((col("id") / 3L).cast("long") * 4L + pmod(col("id"), lit(3L)) + 1L)
          .as("id_a"),
        ((col("id") / 3L).cast("long") * 4L).as("id_b"))
    (0 until nPolls).foreach { t =>
      val acc = (t + 1) * pollPairs
      val nVerts = ((acc / 3L) + 1L) * 4L
      val verts = spark.range(nVerts).select(col("id"))
      time(f"ops27 ingest poll ${t + 1}%2d      (200k pairs)") {
        graft.streaming.ClusterStream.ingestPairs(spark,
          pairsIn(t * pollPairs, (t + 1) * pollPairs), base)
      }
      val nNew = time(f"ops27 aliasRead  acc=$acc%8d") {
        graft.streaming.ClusterStream.clusters(spark, verts, base)
          .filter(col("id") =!= col("cluster_rep")).count()
      }
      val nOld = time(f"ops27 ccRecompute acc=$acc%8d") {
        graft.operators.CacheHygiene.withRddCleanup(spark) {
          graft.operators.DupClusters.connectedComponents(verts,
              pairsIn(0, acc).select(col("id_a").as("src"),
                col("id_b").as("dst")))
            .filter(col("id") =!= col("cluster_rep")).count()
        }
      }
      require(nNew == nOld, s"read mismatch: alias $nNew vs cc $nOld")
    }
  }

  /** ops30: streaming-state LONGEVITY. Every compaction / rebucket /
    * adaptive-growth trigger in the streaming stores had only ever run
    * single-digit polls (the registered queries replay 3 batches); this
    * ages the four heaviest streams 200+ polls at fixture scale and
    * charts poll wall + state part-file count vs poll index. PASS =
    * flat or bounded-sawtooth curves (a compaction paying its rewrite
    * then returning to the floor); sustained growth in either signal is
    * a state-maintenance bug. Ids increase strictly across polls (the
    * arrival contract); texts recycle with a period so the dedup /
    * seen-hash / near-dup paths do real work every poll.
    * SPARK_GRAFT_OPS30_POLLS overrides the default 220;
    * SPARK_GRAFT_OPS30_ONLY=contam|curation|ivfpq|neardup selects one. */
  def ops30Probe(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val polls = sys.env.getOrElse("SPARK_GRAFT_OPS30_POLLS", "220").toInt
    val onlyStream = sys.env.get("SPARK_GRAFT_OPS30_ONLY")
    def want(tag: String) = onlyStream.forall(_ == tag)
    def wipe(dir: String): String = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true); dir
    }
    def partFiles(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) return 0
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    def text(idc: org.apache.spark.sql.Column, period: Long) =
      concat_ws(" ", transform(sequence(lit(0), lit(79)),
        i => concat(lit("w"), pmod(hash(pmod(idc, lit(period)) * 31 + i),
          lit(50000)))))
    def age(tag: String, stateRoot: String)(poll: Int => Unit): Unit = {
      val walls = new Array[Double](polls)
      val files = new Array[Int](polls)
      for (p <- 0 until polls) {
        val t0 = System.nanoTime()
        poll(p)
        walls(p) = (System.nanoTime() - t0) / 1e9
        files(p) = partFiles(stateRoot)
        if (p % 10 == 0 || p == polls - 1)
          println(f"[probe] ops30 $tag%-8s poll=$p%4d wall=${walls(p)}%7.3f s files=${files(p)}%5d")
      }
      val k = math.max(1, polls / 10)
      def avg(a: Seq[Double]) = a.sum / a.size
      println(f"[probe] ops30 $tag%-8s SUMMARY wall first=${avg(walls.take(k).toSeq)}%.3f" +
        f" mid=${avg(walls.slice(polls / 2 - k / 2, polls / 2 + k - k / 2).toSeq)}%.3f" +
        f" last=${avg(walls.takeRight(k).toSeq)}%.3f max=${walls.max}%.3f s |" +
        f" files last=${files.last} max=${files.max}")
    }

    // (1) ContamStream adaptive: 300 docs/poll, a 40-gram benchmark
    // increment every 10th poll (the production cadence: suites arrive
    // rarely); growth params sized so the modulus crosses several
    // doublings over the run
    if (want("contam")) {
      val base = wipe("/tmp/ops30_contam")
      val emptyDf = spark.range(0).select(col("id"),
        lit("").as("text"))
      age("contam", base) { p =>
        val lo = p * 300L
        val batch = spark.range(lo, lo + 300)
          .select(col("id"), text(col("id"), 1L << 40).as("text"))
        val bench =
          if (p % 10 == 5)
            spark.range(2000000000L + p * 20L, 2000000000L + p * 20L + 20L)
              .select(col("id"), text(col("id") + 7, 1L << 40).as("text"))
          else emptyDf
        graft.streaming.ContamStream.ingestBatch(spark, batch, bench, base,
          n = 3, bucketTargetBytes = 4L << 20, maxBuckets = 64)
      }
      println(s"[probe] ops30 contam   final modulus: " + new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          s"$base/grams/_graft_nbuckets"))).trim)
      time("ops30 contam   final read") {
        graft.streaming.ContamStream.contamination(spark, base).count()
      }
    }

    // (2) CurationStream: 300 docs/poll, text period 1000 → after ~3
    // polls most arrivals are exact dups of accepted docs (the
    // seen-hash anti-join carries the load the design claims it does)
    if (want("curation")) {
      val base = wipe("/tmp/ops30_curation")
      graft.streaming.CurationStream.installBenchmark(spark,
        spark.range(3000000000L, 3000000100L)
          .select(col("id"), text(col("id"), 1L << 40).as("text")),
        "text", n = 3, stateDir = base)
      age("curation", base) { p =>
        val lo = p * 300L
        graft.streaming.CurationStream.ingestBatch(spark,
          spark.range(lo, lo + 300)
            .select(col("id"), text(col("id"), 1000L).as("text")),
          "id", "text", qualityFloor = 0.0, n = 3,
          budget = 1000000000L, stateDir = base)
      }
      time("ops30 curation final read") {
        graft.streaming.CurationStream.readCurated(spark, base).count()
      }
    }

    // (3) IvfPqStream: 500 vecs/poll into a 16-list codes index — the
    // hive-partitioned append + compaction cycle under 200+ batches
    if (want("ivfpq")) {
      val base = wipe("/tmp/ops30_ivfpq")
      val dim = 16
      def vecs(lo: Long, n: Long) = spark.range(lo, lo + n)
        .select(col("id"),
          transform(sequence(lit(0), lit(dim - 1)),
            j => (pmod(hash(col("id") * 17 + j), lit(1000)) / lit(1000.0))
              .cast("float")).as("vec"))
      val seed = vecs(0, 64).cache()
      seed.count()
      val coarse = graft.operators.Quantize.seedCodebook(seed,
        col("id"), col("vec"), (0L until 16L).toSeq)
      val rb = graft.operators.Quantize.residualSeedCodebook(seed,
        col("id"), col("vec"), (16L until 48L).toSeq, coarse)
      seed.unpersist()
      age("ivfpq", base) { p =>
        graft.streaming.IvfPqStream.ingestBatch(spark,
          vecs(1000L + p * 500L, 500L), base, col("id"), col("vec"),
          coarse, rb, m = 4, dim = dim)
      }
      time("ops30 ivfpq    final topk") {
        graft.streaming.IvfPqStream.topK(spark, base, vecs(0, 5), "id",
          "vec", coarse, rb, m = 4, dim = dim, nProbe = 4, k = 3).count()
      }
    }

    // (4) NearDupStream: 200 docs/poll with BOUNDED dup families — each
    // text recurs 4× inside a 400-id window (two polls), so cross-poll
    // pairs flow through the band index every poll but family size is
    // capped and per-poll pair WORK is constant by construction. (The
    // first ops30 run recycled texts globally, which made every poll's
    // docs pair with ALL earlier copies — per-poll pairs grew linearly
    // and the wall read as a maintenance leak when it was the WORKLOAD
    // growing; unbounded dup families are genuinely quadratic, and
    // capping them is the production posture, cf. NearDup's df-cut.)
    if (want("neardup")) {
      val base = wipe("/tmp/ops30_neardup")
      age("neardup", base) { p =>
        val lo = p * 200L
        val famKey = col("id") - (col("id") % 400) + (col("id") % 100)
        graft.streaming.NearDupStream.ingestBatch(spark,
          spark.range(lo, lo + 200)
            .select(col("id"), text(famKey, 1L << 40).as("text")),
          s"$base/state", s"$base/sink", n = 3, bands = 16,
          rowsPerBand = 2, threshold = 0.8)
      }
      time("ops30 neardup  final sink read") {
        spark.read.parquet(s"$base/sink").count()
      }
    }
  }

  /** ops31: attribute the r16 q241 floor regression (2.63 → 4.53 s
    * quiet) to — or exonerate — the `catalog.refreshByPath` calls that
    * commit c8ef75e added to every SketchState swap. Times the call in
    * the three cache states a stream can be in, then a full
    * swapReplaceMany pair commit (q241's per-poll shape) so the refresh
    * share of a poll is a measured number, not a suspicion. */
  /** ops32: longevity, round 2 (r17 VERDICT next-round #4).
    * (a) ContamStream aged LONG — ops30's 220 polls only reached
    * band-2 merges of the size-tiered compaction (the 13.9 s spike at
    * poll 150); the amortization claim (each byte rewritten
    * O(log₄(state/append)) times, file count bounded by
    * dirs × bands × bandMax) needs the DEEP bands witnessed: this run
    * ages it SPARK_GRAFT_OPS32_POLLS (default 1000) polls and, beyond
    * the wall/file curves, prints the live band histogram every 100
    * polls so band-3+ consolidation is directly visible.
    * (b) The three streams ops30 skipped — SegDedupStream,
    * NgramLmStream, DoremiStream — aged 220 polls each at fixture
    * scale. PASS = flat or bounded-sawtooth walls; NgramLm/Doremi
    * rewrite TYPES-bounded state per poll, so their walls must plateau
    * once the recycled-text vocabulary saturates, NOT track poll index.
    * SPARK_GRAFT_OPS32_ONLY=contam|segdedup|ngramlm|doremi selects one;
    * SPARK_GRAFT_OPS32_POLLS220 overrides the short arms' 220. */
  def ops32Probe(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val pollsLong = sys.env.getOrElse("SPARK_GRAFT_OPS32_POLLS", "1000").toInt
    val pollsShort =
      sys.env.getOrElse("SPARK_GRAFT_OPS32_POLLS220", "220").toInt
    val onlyStream = sys.env.get("SPARK_GRAFT_OPS32_ONLY")
    def want(tag: String) = onlyStream.forall(_ == tag)
    def wipe(dir: String): String = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true); dir
    }
    def partEntries(dir: String): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) return Nil
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.startsWith("part-"))
          out += ((s.getPath.getParent.toString, s.getLen))
      }
      out.toSeq
    }
    def partSizes(dir: String): Seq[Long] = partEntries(dir).map(_._2)
    // the same 4×-spaced band as SketchState.band: consolidation depth
    // is readable straight off the histogram
    def bandHist(sizes: Seq[Long]): String =
      sizes.groupBy(l => (63 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, l))) / 2)
        .toSeq.sortBy(_._1)
        .map { case (b, fs0) => s"b$b:${fs0.size}" }.mkString(" ")
    def text(idc: org.apache.spark.sql.Column, period: Long) =
      concat_ws(" ", transform(sequence(lit(0), lit(79)),
        i => concat(lit("w"), pmod(hash(pmod(idc, lit(period)) * 31 + i),
          lit(50000)))))
    def age(tag: String, stateRoot: String, polls: Int,
            histEvery: Int = 0)(poll: Int => Unit): Unit = {
      val walls = new Array[Double](polls)
      val files = new Array[Int](polls)
      for (p <- 0 until polls) {
        val t0 = System.nanoTime()
        poll(p)
        walls(p) = (System.nanoTime() - t0) / 1e9
        val sizes = partSizes(stateRoot)
        files(p) = sizes.size
        if (p % 20 == 0 || p == polls - 1)
          println(f"[probe] ops32 $tag%-8s poll=$p%4d wall=${walls(p)}%7.3f s files=${files(p)}%5d")
        if (histEvery > 0 && (p % histEvery == 0 || p == polls - 1)) {
          // the max-file-count law, machine-printed: the tiered steady
          // state can hold at most bandMax (4) files per occupied
          // (partition dir, size band) group, plus ≤ dirs in-flight
          // appends since the last excess trigger — `files` vs `bound`
          // on the same line makes a violation self-evident in the log
          val entries = partEntries(stateRoot)
          val dirs = entries.iterator.map(_._1).toSet.size
          val groups = entries.iterator.map { case (d, l) =>
            (d, (63 - java.lang.Long.numberOfLeadingZeros(
              math.max(1L, l))) / 2) }.toSet.size
          println(s"[probe] ops32 $tag bands poll=$p ${bandHist(sizes)} | " +
            s"dirs=$dirs groups=$groups files=${sizes.size} " +
            s"bound=${4 * groups + dirs}")
        }
      }
      val k = math.max(1, polls / 10)
      def avg(a: Seq[Double]) = a.sum / a.size
      println(f"[probe] ops32 $tag%-8s SUMMARY wall first=${avg(walls.take(k).toSeq)}%.3f" +
        f" mid=${avg(walls.slice(polls / 2 - k / 2, polls / 2 + k - k / 2).toSeq)}%.3f" +
        f" last=${avg(walls.takeRight(k).toSeq)}%.3f max=${walls.max}%.3f s |" +
        f" files last=${files.last} max=${files.max}")
    }

    // (a) ContamStream deep-band aging — ops30's exact fixture, more
    // polls, with the band histogram printed on a fixed cadence
    if (want("contam")) {
      val base = wipe("/tmp/ops32_contam")
      val emptyDf = spark.range(0).select(col("id"), lit("").as("text"))
      age("contam", base, pollsLong, histEvery = 100) { p =>
        val lo = p * 300L
        val batch = spark.range(lo, lo + 300)
          .select(col("id"), text(col("id"), 1L << 40).as("text"))
        val bench =
          if (p % 10 == 5)
            spark.range(2000000000L + p * 20L, 2000000000L + p * 20L + 20L)
              .select(col("id"), text(col("id") + 7, 1L << 40).as("text"))
          else emptyDf
        graft.streaming.ContamStream.ingestBatch(spark, batch, bench, base,
          n = 3, bucketTargetBytes = 4L << 20, maxBuckets = 64)
      }
      time("ops32 contam   final read") {
        graft.streaming.ContamStream.contamination(spark, base).count()
      }
    }

    // (b1) SegDedupStream: 200 docs/poll, texts recycle with period 800
    // (ids are stream-unique and batch-monotone, the exactness
    // contract) so most segments past poll ~4 are already-seen — the
    // anti-join against the accumulated hash index carries real load
    if (want("segdedup")) {
      val base = wipe("/tmp/ops32_segdedup")
      age("segdedup", base, pollsShort) { p =>
        val lo = p * 200L
        graft.streaming.SegDedupStream.ingestBatch(spark,
          spark.range(lo, lo + 200)
            .select(col("id"), text(col("id"), 800L).as("text")),
          s"$base/state", s"$base/sink", w = 20)
      }
      time("ops32 segdedup final sink read") {
        spark.read.parquet(s"$base/sink").count()
      }
    }

    // (b2) NgramLmStream: 200 docs/poll over a 50k-word closed
    // vocabulary — the count tables saturate to TYPES size, so the
    // per-poll merge wall must go FLAT once the tri-table stops growing
    if (want("ngramlm")) {
      val base = wipe("/tmp/ops32_ngramlm")
      age("ngramlm", base, pollsShort) { p =>
        val lo = p * 200L
        graft.streaming.NgramLmStream.ingestBatch(spark,
          spark.range(lo, lo + 200)
            .select(col("id"), text(col("id"), 500L).as("text")),
          col("id"), col("text"), base)
      }
      time("ops32 ngramlm  final state read") {
        spark.read.parquet(s"$base/tri").count()
      }
    }

    // (b3) DoremiStream: 200 docs/poll across 4 sources; state is
    // sources × vocab, the weight read never touches the corpus
    if (want("doremi")) {
      val base = wipe("/tmp/ops32_doremi")
      age("doremi", base, pollsShort) { p =>
        val lo = p * 200L
        graft.streaming.DoremiStream.ingestBatch(spark,
          spark.range(lo, lo + 200)
            .select(col("id"), text(col("id"), 500L).as("text"),
              concat(lit("src"), pmod(col("id"), lit(4))).as("src")),
          col("text"), col("src"), base)
      }
      time("ops32 doremi   final weights read") {
        graft.streaming.DoremiStream.readWeights(spark, base,
          eta = 0.1, smoothing = 0.5).count()
      }
    }
  }

  /** Round-18 measurement driver for the q253 shortlist/ADC dial sweep
    * (SCALE.md r18): per SF, the full (pqM × shortlist R) hits table at
    * q252's coarse operating point, with wall time. */
  def sweep253Probe(spark: SparkSession): Unit = {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { d =>
      val t0 = System.nanoTime()
      val rows = graft.queries.TestdataQueries.q253SweepTable(spark, d)
        .orderBy("pq_m", "shortlist_r").collect()
      println(f"== q253 sweep $d (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      rows.foreach(r => println(
        s"  m=${r.getInt(0)} R=${r.getInt(1)} " +
        s"n_exact=${r.getLong(2)} n_hits=${r.getLong(3)}"))
      // q254's serving arm, per-query (the floors' evidence)
      val hits = graft.queries.TestdataQueries.q248HitsTable(spark, d,
        nLists = 32, nProbe = 16, m = 16, shortlist = 400)
        .orderBy("query_id").collect()
      println("  q254 per-query hits: " + hits.map(r =>
        s"${r.getLong(0)}:${r.getLong(1)}").mkString(" "))
      spark.catalog.clearCache()
    }
  }

  def ops31Probe(spark: SparkSession): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = "/tmp/ops31_state"
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    spark.range(100).write.mode("overwrite").parquet(p)
    def per(n: Int)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      (0 until n).foreach(_ => f)
      (System.nanoTime() - t0) / 1e9 / n
    }
    println(f"[probe] ops31 refreshByPath empty-cache      ${per(200)(spark.catalog.refreshByPath(p)) * 1000}%8.3f ms/call")
    val c1 = spark.range(1000).selectExpr("id*2 as x").cache(); c1.count()
    val c2 = spark.range(1000).selectExpr("id*3 as x").cache(); c2.count()
    println(f"[probe] ops31 refreshByPath unrelated-cached ${per(200)(spark.catalog.refreshByPath(p)) * 1000}%8.3f ms/call")
    val c3 = spark.read.parquet(p)
      .filter(col("id") > 10).cache(); c3.count()
    println(f"[probe] ops31 refreshByPath cached-ON-path   ${per(50)(spark.catalog.refreshByPath(p)) * 1000}%8.3f ms/call")
    spark.catalog.clearCache()
    // q241's per-poll commit shape: a channels-sized rollup + a
    // keys-sized touch table through ONE swapReplaceMany
    val pair = "/tmp/ops31_pair"
    fs.delete(new org.apache.hadoop.fs.Path(pair), true)
    val rollup = spark.range(8).selectExpr("cast(id as string) as channel",
      "id as n", "id*100 as s")
    val touch = spark.range(20000).selectExpr("id as k",
      "timestamp_micros(id*1000000) as tts",
      "cast(id % 3 as string) as channel", "id as eid")
    (0 until 3).foreach { _ => // warm
      graft.operators.SketchState.swapReplaceMany(spark,
        Seq("rollup" -> rollup.coalesce(1), "touch" -> touch), pair)
    }
    println(f"[probe] ops31 swapReplaceMany pair commit    ${per(20) {
      graft.operators.SketchState.swapReplaceMany(spark,
        Seq("rollup" -> rollup.coalesce(1), "touch" -> touch), pair)
    } * 1000}%8.3f ms/commit")
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("uf", "hh", "z", "ops", "nd", "bpe", "ops7", "ops8",
      "ops9", "ops10", "ops11", "ops12", "ops12v", "ops13", "ops14", "ops15",
      "lmstream", "qs", "ops16", "ct", "ops17", "ops18", "ops19", "ops20",
      "ops21", "ops22", "ops23", "ctfiles", "ops24", "ops26", "ops27",
      "ops28", "ops29", "ops30", "ops31", "ops32", "sweep253")
    val nCases = args.headOption.filter(a => !modes.contains(a))
      .map(_.toLong)
      .getOrElse(1000000L)
    val docMults = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 4, 16)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.headOption.contains("uf")) {
      unionFindProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("hh")) {
      frequentProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("z")) {
      zorderProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops")) {
      newOpsProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("nd")) {
      nearDupStreamProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops23")) {
      ops23Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ctfiles")) {
      contamFilesWitness(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops24")) {
      ops24Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops26")) {
      ops26Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops27")) {
      ops27Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops28")) {
      ops28Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops29")) {
      ops29Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops30")) {
      ops30Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops31")) {
      ops31Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops32")) {
      ops32Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("sweep253")) {
      sweep253Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ct")) {
      contamStreamProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("bpe")) {
      bpeProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops7")) {
      ops7Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops8")) {
      ops8Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops9")) {
      ops9Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops10")) {
      ops10Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops11")) {
      ops11Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops12")) {
      ops12Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops12v")) {
      ops12VecProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops15")) {
      ops15Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops14")) {
      ops14Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops13")) {
      ops13Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("lmstream")) {
      lmStreamProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("qs")) {
      qualityProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops16")) {
      ops16Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops17")) {
      ops17Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops18")) {
      ops18Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops19")) {
      ops19Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops20")) {
      ops20Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops21")) {
      ops21Probe(spark); spark.stop(); return
    }
    if (args.headOption.contains("ops22")) {
      ops22Probe(spark); spark.stop(); return
    }

    val dir = "/tmp/omm_scale"
    time(s"generate OMM tables ($nCases cases)") { genOmm(spark, dir, nCases) }
    val t = P.loadTables(spark, dir)
    val now = "2024-05-15 12:00:00"; val today = "2024-05-15"
    val lookback = P.lookbackBound(java.time.Instant.parse("2024-05-15T09:00:00Z"),
      "Europe/Helsinki", 1800L)

    val snap = P.snapshot(t, P.FromNow, now, today, lookback)
    val nSnap = time("NOW snapshot count") { snap.count() }
    val deduped = P.dedup(P.parse(snap, "Europe/Helsinki"))
    val nDedup = time("parse+dedup count") { deduped.count() }
    val nPast = time("PAST snapshot count") {
      P.snapshot(t, P.FromPast, now, today, lookback).count()
    }
    println(s"[probe] rows: snapshot=$nSnap deduped=$nDedup past=$nPast")

    // one real poll (sink+state+diff) over the large tables — also
    // exercises the slow-poll warning (threshold 4 s, ≙ OmmConnector:86–89)
    val r = time("pollOnce (sink+state+diff)") {
      graft.streaming.CancellationStream.pollOnce(spark, dir,
        "/tmp/omm_scale_sink", "/tmp/omm_scale_state", P.FromNow,
        java.time.Instant.parse("2024-05-15T09:00:00Z"), 1800L,
        "Europe/Helsinki")
    }
    println(s"[probe] poll result: $r")

    docMults.foreach { k =>
      val docs = genDocs(spark, k).cache()
      val n = docs.count()
      time(f"minhashLshPairs  ($n%7d docs)") {
        NearDup.minhashLshPairs(docs, col("doc_id"), col("text"),
          3, 8, 2, 0.8).count()
      }
      time(f"shingleJaccard   ($n%7d docs)") {
        NearDup.shingleJaccardPairs(docs, col("doc_id"), col("text"),
          3, 0.8, 1000).count()
      }
      time(f"simhashPairs     ($n%7d docs)") {
        NearDup.simhashNearDupPairs(docs, col("doc_id"), col("text"), 3).count()
      }
      time(f"editDistancePairs($n%7d docs)") {
        NearDup.editDistancePairs(docs, col("doc_id"), col("text"),
          40, 8, 12, 200).count()
      }
      time(f"dupClusters      ($n%7d docs)") {
        graft.operators.DupClusters.connectedComponents(
          docs.select(col("doc_id").as("id")),
          NearDup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 8, 2, 0.8)
            .select(col("id_a").as("src"), col("id_b").as("dst"))).count()
      }
      docs.unpersist()
    }

    // connected components on an isolated-heavy corpus — the realistic
    // shape (dup families are a sliver of any real corpus). The loop must
    // pay per round only for the edge-incident vertices (the working-set
    // restriction), so 2M isolated vertices + a 10k-vertex dup-set should
    // cost barely more than the dup-set alone.
    Seq(2000000L, 8000000L).foreach { nV =>
      val verts = spark.range(nV).select(col("id")).cache()
      verts.count()
      val chainEdges = spark.range(10000L) // 2k chains of 5 (diameter 4)
        .filter(col("id") % 5 =!= 4)
        .select(col("id").as("src"), (col("id") + 1).as("dst")).cache()
      chainEdges.count()
      time(s"dupClustersIsolated ($nV verts, 10k edge-incident)") {
        graft.operators.DupClusters.connectedComponents(verts, chainEdges)
          .count()
      }
      verts.unpersist(); chainEdges.unpersist()
    }

    // temporal operators over synthetic events: nCases rows, 100k users,
    // ~10% purchases — as-of/range cost must stay linear in events, never
    // |clicks_user| × |purchases_user|
    val ev = spark.range(nCases).select(
      col("id").as("event_id"),
      (col("id") % 100000L).as("user_id"),
      timestamp_micros(lit(1714500000000000L) +
        (col("id") * 37L % 2592000L) * 1000000L).as("ts"),
      when(col("id") % 10 === 0, "purchase").otherwise("click")
        .as("event_type")).cache()
    ev.count()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(min(col("event_id")).as("purchase_id"))
    time(s"asofJoin         ($nCases events)") {
      graft.operators.AsOfJoin.asofJoin(clicks, purchases,
        Seq("user_id"), "ts", "pts").count()
    }
    time(s"rangeJoin        ($nCases events)") {
      graft.operators.RangeJoin.pointInIntervalJoin(clicks,
        purchases.withColumn("pend", col("pts") + expr("INTERVAL 3600 SECONDS")),
        Seq("user_id"), "ts", "pts", "pend", bucketSeconds = 3600L).count()
    }
    time(s"sessionize       ($nCases events)") {
      graft.operators.Sessionize.sessionStats(ev, Seq("user_id"),
        col("ts"), col("event_id"), 3600L).count()
    }
    ev.unpersist()

    // PQ encode over synthetic 64-dim vectors: pure map-side against a
    // broadcast codebook — cost must scale linearly with corpus size
    val dim = 64
    val vecs = spark.range(nCases / 4).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => sin(col("id") * 37 + i * 11).cast("double")).as("embedding"))
      .cache()
    vecs.count()
    val cb = graft.operators.Quantize.seedCodebook(
      vecs, col("vec_id"), col("embedding"), (10L to 25L))
    time(s"pqEncode         (${nCases / 4} vecs)") {
      graft.operators.Quantize.pqEncode(vecs, col("vec_id"),
        col("embedding"), cb, m = 8, dim = dim).count()
    }
    vecs.unpersist()
    spark.stop()
  }
}
