package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.5 A1/A2 + §2.10 extensions).
  *
  * A1 `priorityDedup` re-expresses the reference's `filterDuplicates`
  * (OmmCancellationHandler.java:168–204): group by key, keep the highest-
  * priority row, break ties by recency. The reference takes `.get(0)` of the
  * CANCELED list — i.e. incidental result-set order (ORDER BY last_modified,
  * cancellations_current_future.sql:39); we impose an explicit deterministic
  * total order instead (SURVEY.md §7 hard part 1).
  *
  * At scale: one shuffle on the dedup key, then a per-partition sort — the
  * window never materializes a group in memory beyond the frame row, and with
  * `row_number`+filter Spark uses a running rank, not a full buffer.
  */
object Dedup {

  /** A1: keep exactly one row per `keys`: lowest `priority` first (0 beats 1),
    * then latest `ts`, then smallest `tieBreak` (total order → deterministic). */
  def priorityDedup(df: DataFrame, keys: Seq[String], priority: Column,
                    ts: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(priority.asc, ts.desc, tieBreak.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A2: batch-over-batch diff ≙ logChangesInCancellations
    * (OmmCancellationHandler.java:206–226). The reference's O(n²) nested loop
    * becomes a hash left-anti join. Returns (new, repeated) counts as one row. */
  def batchDiffCounts(curr: DataFrame, prev: DataFrame, key: String): DataFrame =
    diffCounts(distinctKeys(curr, key), distinctKeys(prev, key), key)

  /** The distinct values of `key`, as a one-column frame. */
  def distinctKeys(df: DataFrame, key: String): DataFrame =
    df.select(col(key)).distinct()

  /** `batchDiffCounts` over key sets that are already distinct (each key
    * once per side, e.g. `distinctKeys` output a caller has written), so no
    * further dedup shuffle runs. */
  def diffCounts(currKeys: DataFrame, prevKeys: DataFrame, key: String): DataFrame = {
    val c = currKeys.select(col(key))
    c.join(prevKeys.select(col(key).as("__pk")), c(key) === col("__pk"), "left")
      .agg(
        count(when(col("__pk").isNull, 1)).as("new_keys"),
        count(when(col("__pk").isNotNull, 1)).as("repeated_keys"))
  }

  /** Rows of `curr` whose key is absent from `prev` (change capture). */
  def newRows(curr: DataFrame, prev: DataFrame, keys: Seq[String]): DataFrame =
    curr.join(prev.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** 128 bits of key hash (two independently-seeded xxhash64 lanes):
    * shuffling an exact-dedup of document text on the raw key ships the
    * full text bytes through the exchange; the hash pair ships 16 bytes
    * with ~2⁻¹²⁸ per-pair collision odds — the standard content-dedup
    * trade at corpus scale. */
  private def keyHash128(key: Column): Column =
    struct(xxhash64(key), xxhash64(key, lit(1)))

  /** Exact duplicate groups by arbitrary key expression: representative =
    * min(id), plus copy count. One shuffle, keyed on a 128-bit hash of the
    * key rather than the key bytes. */
  def exactDupGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(keyHash128(key).as("dup_key"))
      .agg(min(id).as("representative_id"), count(lit(1)).as("n_copies"))

  /** Duplicate groups under AGGRESSIVE normalization — the dedup rung
    * between byte-exact (q9) and near-dup (MinHash): case, Unicode
    * composition, punctuation, and whitespace differences collapse
    * ([[graft.functions.TextExprs.normalizeText]] + a non-alnum strip),
    * catching the re-render/re-escape duplicates byte hashing misses at
    * a fraction of shingling's cost. One row per group with ≥ 2
    * members: `(group_rep, n_members, n_raw_variants)` —
    * `n_raw_variants` counts distinct RAW texts inside the group (a
    * group with 40 members but 2 raw variants is a re-render; 40
    * variants is template spam), which is the triage signal between
    * "fix the exporter" and "write a boilerplate rule".
    *
    * Rows whose normalized key is EMPTY are excluded (text made only of
    * punctuation/whitespace — or entirely outside the kept alphabet —
    * is not a meaningful dup group; at fixture scale the zh corpus
    * lands here whole, and one mega-group of unrelated docs is exactly
    * the artifact this guard removes).
    *
    * Scale shape: ONE shuffle keyed on the 128-bit hash of the
    * normalized key; the raw-variant count rides as a second 128-bit
    * hash — id + 32 bytes per row cross the exchange, never text. */
  def normalizedDupGroups(df: DataFrame, id: Column, text: Column)
      : DataFrame = {
    // ORDER MATTERS: the non-alnum strip must be FOLLOWED by a second
    // whitespace collapse + trim — stripping "foo , bar" leaves a
    // double space ("foo  bar") and punctuation-only text leaves a
    // bare " " that would defeat the empty-key guard below
    val normKey = trim(regexp_replace(regexp_replace(
      graft.functions.TextExprs.normalizeText(text), "[^a-z0-9 ]", ""),
      "\\s+", " "))
    df.select(id.as("id"), keyHash128(normKey).as("k"),
        keyHash128(text).as("rk"), normKey.as("nk"))
      .filter(length(col("nk")) > 0)
      .groupBy(col("k"))
      .agg(min(col("id")).as("group_rep"),
        count(lit(1)).as("n_members"),
        countDistinct(col("rk")).as("n_raw_variants"))
      .filter(col("n_members") >= 2)
      .select(col("group_rep"), col("n_members"), col("n_raw_variants"))
  }

  /** Corpus snapshot diff — the reference's batch-over-batch diff (A2,
    * OmmCancellationHandler's new-vs-repeated split) generalized to
    * dataset versioning: classify every id across two corpus snapshots
    * as `added` / `removed` / `changed` / `unchanged`, with change
    * detection on CONTENT, not timestamps (re-crawled bytes that didn't
    * change shouldn't invalidate downstream shards).
    *
    * Scale shape: each side is reduced map-side to `(id, hash128)` —
    * content never crosses the exchange — and the diff is one full-outer
    * hash join on the id. The 128-bit content hash makes a false
    * `unchanged` a ~2⁻¹²⁸ event (the q9/q88 trade; the oracle compares
    * the content itself, so a collision would surface as a mismatch). */
  def corpusDiff(current: DataFrame, previous: DataFrame, id: Column,
      content: Column): DataFrame = {
    val cur = current.select(id.as("id"), keyHash128(content).as("ch"))
    val prev = previous.select(id.as("id"), keyHash128(content).as("ph"))
    cur.join(prev, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("ph").isNull, "added")
          .when(col("ch").isNull, "removed")
          .when(col("ch") === col("ph"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Keep one representative row per exact key (smallest `id` wins). */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(keyHash128(key)).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicated n-gram span statistics — the "exact substring dedup"
    * pass of Lee et al. 2021 (Deduplicating Training Data Makes Language
    * Models Better), re-expressed relationally at token granularity: a
    * position's k-gram is DUPLICATED when the identical k-token window
    * occurs ≥ 2 times anywhere in the corpus (another document or elsewhere
    * in the same one). Returns one row per doc:
    * `(doc_id, n_tokens, n_grams, n_dup_grams, n_dup_tokens)` where
    * `n_dup_tokens` is the number of token positions covered by at least
    * one duplicated gram — exactly the text a span-cutting dedup would
    * remove, so `n_dup_tokens / n_tokens` is the doc's duplication load.
    *
    * Scale shape (the suffix-array pass of the paper is a single-machine
    * construction; this is the shuffle-friendly equivalent for the common
    * fixed-k case):
    *  - grams leave the scan as 128-bit hashes (16 bytes/posting), never
    *    as text;
    *  - the global gram-frequency aggregate is map-combinable (partial
    *    counts, no posting lists — immune to boilerplate grams that occur
    *    in millions of docs, which would OOM a collect_list formulation);
    *  - only grams with count ≥ 2 (the duplicated minority) flow into the
    *    join back to positions, a classic runtime-bloom-filter shape
    *    (RuntimeFilterSpec proves InjectRuntimeFilter fires for this
    *    pattern);
    *  - gram regeneration for the join-back is pure map-side work —
    *    cheaper than persisting the full gram stream at corpus scale;
    *  - span-coverage union is a per-doc higher-order expression, no UDFs.
    */
  /** Cross-document segment dedup — the paragraph-hash dedup pass of CCNet
    * (Wenzek et al. 2020), re-expressed at token granularity because this
    * corpus has no line structure: documents split into DISJOINT `w`-token
    * segments (the last may be short), and only the FIRST occurrence of
    * each distinct segment corpus-wide survives (first = smallest
    * `(doc_id, pos)` — a deterministic total order, not arrival order).
    * Returns one row per input doc:
    * `(doc_id, n_segments, n_kept, text)` with `text` rebuilt from the
    * kept segments in position order ('' when everything was dropped or
    * the doc was empty).
    *
    * Scale shape:
    *  - the dedup decision traffic is ids + 128-bit segment hashes only
    *    (16 B + 12 B per segment posting): segment TEXT never enters the
    *    first-occurrence shuffle, and the keep set flows back as a
    *    per-doc int-array (`n/w` entries), not as text;
    *  - first-occurrence selection is `min(struct(doc_id, pos))` — a
    *    map-combinable aggregate, no posting lists, immune to boilerplate
    *    segments occurring in millions of docs;
    *  - document text crosses exactly ONE exchange: the rebuild join by
    *    `doc_id` (unavoidable — the decision must meet the doc; bucketing
    *    the corpus by `doc_id` makes even that one exchange-free);
    *  - the rebuild is a higher-order slice/flatten over the doc's own
    *    token array — kept segments are re-sliced in place, never shipped.
    */
  def dedupSegments(docs: DataFrame, id: Column, text: Column,
                    w: Int): DataFrame = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    val base = segmentBase(docs, id, text)
    val segs = segmentRows(base, w)
    val first = segs.groupBy(col("skey"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val winners = segs.join(first, Seq("skey"))
      .filter(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
    rebuildFromKept(base, winners, w)
  }

  /** Frequency-threshold segment drop — RefinedWeb's line-dedup rule
    * (Penedo et al. 2023 §3.3: lines occurring in many documents are
    * boilerplate — navigation chrome, cookie banners, license footers —
    * and are removed from EVERY document, including the first), at token
    * granularity like [[dedupSegments]]: a disjoint `w`-token segment is
    * dropped from all docs when it occurs in ≥ `minDf` DISTINCT
    * documents. Complements first-occurrence dedup (which keeps one
    * copy): boilerplate is noise everywhere, so no copy survives.
    * Returns `(doc_id, n_segments, n_kept, text)` per input doc.
    *
    * Scale shape — [[dedupSegments]]'s contract plus one refinement:
    *  - the document-frequency aggregate is over `(skey, doc_id)` pairs
    *    already deduplicated map-side (`distinct` before the count is a
    *    partial-agg, so a boilerplate segment repeated within one huge
    *    doc contributes one posting, not thousands);
    *  - the drop set (segments with df ≥ minDf) is the HOT-key set — by
    *    construction small (≤ corpus_segments / minDf), so the anti-join
    *    broadcasts at any corpus size when minDf scales with the corpus;
    *  - decision traffic is ids+hash128 only; text crosses exactly one
    *    exchange (the rebuild join), same as the whole segment family. */
  def dropFrequentSegments(docs: DataFrame, id: Column, text: Column,
                           w: Int, minDf: Int): DataFrame = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = segmentBase(docs, id, text)
    val segs = segmentRows(base, w)
    val frequent = segs.select(col("skey"), col("doc_id")).distinct()
      .groupBy(col("skey")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("skey"))
    val kept = segs.join(frequent, Seq("skey"), "left_anti")
    rebuildFromKept(base, kept, w)
  }

  /** `(doc_id, ts, n)` token base shared by the segment-dedup family. */
  private[graft] def segmentBase(docs: DataFrame, id: Column,
                                 text: Column): DataFrame = {
    import graft.functions.TextExprs
    docs.select(id.as("doc_id"), TextExprs.tokens(text).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("n"))
  }

  /** Segment count of a [[segmentBase]] row: ceil(n / w). */
  private[graft] def segmentCount(w: Int): Column =
    floor((col("n") + (w - 1)) / lit(w)).cast("long")

  /** `(doc_id, pos, skey)` — one row per disjoint w-token block, keyed by
    * a 128-bit hash of the block text (ids+hashes only past this point). */
  private[graft] def segmentRows(base: DataFrame, w: Int): DataFrame =
    base.filter(col("n") > 0)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), (segmentCount(w) - 1).cast("int")), i => {
          val seg = array_join(slice(col("ts"), i * w + 1, lit(w)), " ")
          struct(xxhash64(seg).as("h1"), xxhash64(seg, lit(1)).as("h2"))
        })))
      .select(col("doc_id"), col("pos"), col("col").as("skey"))

  /** Rebuild `(doc_id, n_segments, n_kept, text)` for EVERY base doc from
    * the kept segment occurrences (rows carrying doc_id + pos): positions
    * group per doc, the doc's own token array is re-sliced in place. */
  private[graft] def rebuildFromKept(base: DataFrame, kept: DataFrame,
                                     w: Int): DataFrame = {
    val keptPos = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__kp"),
        count(lit(1)).as("n_kept"))
    base.join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        segmentCount(w).as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("__kp").isNull, lit(""))
          .otherwise(concat_ws(" ", flatten(
            transform(col("__kp"), p => slice(col("ts"), p * w + 1, lit(w))))))
          .as("text"))
  }

  /** `(doc_id, n_tokens, ts)` gram base + `(doc_id, pos, gkey)` k-gram
    * start rows + the ≥ `minOcc`-occurrence gram-key set — shared by the
    * span-stat and span-removal operators. */
  private def gramBase(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.functions.TextExprs
    docs.select(id.as("doc_id"), TextExprs.tokens(text).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_tokens"), col("ts"))
  }

  /** (doc_id, pos, gram-hash128) for every k-gram start position. */
  private def gramRows(base: DataFrame, k: Int): DataFrame =
    base.filter(col("n_tokens") >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), col("n_tokens") - k), i => {
          val gram = array_join(slice(col("ts"), i + 1, lit(k)), " ")
          struct(xxhash64(gram).as("h1"), xxhash64(gram, lit(1)).as("h2"))
        })))
      .select(col("doc_id"), col("pos"), col("col").as("gkey"))

  def dupNgramSpans(docs: DataFrame, id: Column, text: Column,
                    k: Int): DataFrame = {
    require(k >= 2, s"span grams need k >= 2, got $k")
    val base = gramBase(docs, id, text)
    val grams = gramRows(base, k)
    val dupKeys = grams.groupBy(col("gkey"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gkey"))
    val perDoc = grams.join(dupKeys, Seq("gkey"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sort_array(collect_list(col("pos"))).as("__ps"))
      .withColumn("n_dup_tokens",
        size(array_distinct(flatten(
          transform(col("__ps"), p => sequence(p, p + (k - 1)))))))
      .select(col("doc_id"), col("n_dup_grams"),
        col("n_dup_tokens").cast("long").as("n_dup_tokens"))
    base
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        greatest(col("n_tokens") - (k - 1), lit(0)).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_grams", "n_dup_tokens"))
  }

  /** Duplicated-span REMOVAL — the cleanup stage of Lee et al. 2021's
    * ExactSubstr dedup ([[dupNgramSpans]] is its measurement stage):
    * every corpus-wide duplicated k-gram keeps exactly ONE occurrence
    * (the smallest `(doc_id, pos)` — same deterministic first-occurrence
    * order as [[dedupSegments]]), and token positions covered by the
    * NON-first occurrences are cut from their documents. Positions under
    * a first occurrence (or under no duplicated gram) survive, so one
    * copy of every repeated passage remains in the corpus. Returns
    * `(doc_id, n_tokens, n_removed, text)` with `text` rebuilt from the
    * surviving positions in order.
    *
    * Scale shape:
    *  - gram decision traffic is ids + 128-bit hashes (the
    *    [[dupNgramSpans]] contract); the first-occurrence pick is a
    *    map-combinable `min(struct)` per gram key, no posting lists;
    *  - the removal set flows back per doc as an int position array;
    *    coverage union and the rebuild are per-doc higher-order
    *    expressions over the doc's own token array — document text
    *    crosses exactly ONE exchange (the rebuild join);
    *  - overlap in coverage is resolved per position (a position under
    *    both a first and a non-first occurrence is removed — the
    *    non-first gram IS a duplicate even where it overlaps a kept
    *    one), which keeps the operator one aggregate + one join. */
  def removeDupSpans(docs: DataFrame, id: Column, text: Column,
                     k: Int): DataFrame = {
    require(k >= 2, s"span grams need k >= 2, got $k")
    val base = gramBase(docs, id, text)
    val grams = gramRows(base, k)
    val firsts = grams.groupBy(col("gkey"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gkey"), col("f"))
    val nonFirst = grams.join(firsts, Seq("gkey"))
      .filter(!(col("doc_id") === col("f.doc_id") &&
        col("pos") === col("f.pos")))
      .select(col("doc_id"), col("pos"))
    val removed = nonFirst.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col("doc_id"), array_distinct(flatten(
        transform(col("__ps"), p => sequence(p, p + (k - 1))))).as("__cov"))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("__all",
        when(col("n_tokens") > 0, sequence(lit(0), col("n_tokens") - 1))
          .otherwise(array().cast("array<int>")))
      .withColumn("__keep", when(col("__cov").isNull, col("__all"))
        .otherwise(filter(col("__all"),
          p => !array_contains(col("__cov"), p))))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("__keep"), p => element_at(col("ts"), p + 1)))
          .as("text"))
  }
}
