package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Normalize

/** Deduplication (SURVEY.md §2.9, D1–D3) — the reference's flagship
  * relational operator, re-expressed as hash-partitioned window functions.
  *
  * Reference behavior (duplication.py:100-196): canonicalise -> SHA256 ->
  * keep the FIRST occurrence per hash (pandas row order), mark the rest
  * `is_dup_exact` with `dup_of` = first row's dedup_id; then a near-dup
  * pass keyed on the first 500 canon chars, restricted to docs with
  * canon length >= 200, marking non-exact-dup later rows `near_duplicate`.
  *
  * Scale design: "first occurrence" order comes from the persistent
  * `ingest_seq` column (SURVEY §1), so the windows are plain
  * hash-partitioned shuffles — no global sort, no driver state. Near-dup
  * candidates are physically split out before the window so non-candidate
  * rows (including the degenerate empty-canon key) never enter the
  * shuffle — that's the skew hazard at 100 TB (SURVEY §2.9 scale note).
  */
object Dedup {

  /** Serializes the session-conf save/restore window around the
    * compression-off branch persist (see dedupStage).
    */
  private[ops] object ConfLock

  val NearDupMinLen = 200
  val NearKeyChars = 500

  /** Rows already dropped by earlier stages sort LAST in the dedup
    * windows: the reference dedups the post-filter frame
    * (duplication.py:100-141), so a doomed row must never "win" a hash
    * group and shadow a kept row. Ordering doomed rows last (instead of
    * splitting them out) keeps one window, one scan, and identical
    * flags on kept rows — the doomed rows' own flags are audit-only
    * (their drop_reason is already set, first-match-wins preserves it).
    */
  private def doomedLast(df: DataFrame) =
    if (df.columns.contains("drop_reason")) col("drop_reason").isNotNull
    else lit(false)

  /** D1+D3: adds dedup_id, exact_canon_text, exact_hash, is_dup_exact,
    * dup_of, and the `exact_duplicate` drop reason.
    */
  def exactDedup(df: DataFrame, textCol: String = "text_pii_masked",
                 seqCol: String = "ingest_seq"): DataFrame = {
    val idCol =
      if (df.columns.contains("doc_id")) col("doc_id").cast("string")
      else col(seqCol).cast("string")
    val w = Window.partitionBy("exact_hash").orderBy(doomedLast(df), col(seqCol))
    val withFlags = df
      .withColumn("dedup_id", idCol)
      .withColumn("exact_canon_text", Normalize.canonExact(col(textCol)))
      .withColumn("exact_hash", Normalize.sha256Hex(col("exact_canon_text")))
      .withColumn("__rn", row_number().over(w))
      .withColumn("dup_of", when(col("__rn") > 1, first("dedup_id").over(w)))
      .withColumn("is_dup_exact", col("__rn") > 1)
      .drop("__rn")
    Filters.applyRules(withFlags, Seq(col("is_dup_exact") -> "exact_duplicate"))
  }

  /** D2: near-dup pass over the output of `exactDedup`. */
  def nearDedup(df: DataFrame, textCol: String = "text_pii_masked",
                seqCol: String = "ingest_seq"): DataFrame = {
    val keyed = df.withColumn("near_key",
      Normalize.canonNear(col(textCol), NearKeyChars))
    val isCandidate =
      (length(col("exact_canon_text")) >= NearDupMinLen) && (col("near_key") =!= "")

    val cand = keyed.filter(isCandidate)
    val rest = keyed.filter(!isCandidate)
      .withColumn("is_dup_near", lit(false))

    val w = Window.partitionBy("near_key").orderBy(doomedLast(df), col(seqCol))
    val candFlagged = cand
      .withColumn("__rn", row_number().over(w))
      .withColumn("__first_id", first("dedup_id").over(w))
      .withColumn("is_dup_near", col("__rn") > 1 && !col("is_dup_exact"))
      .withColumn("dup_of",
        coalesce(col("dup_of"), when(col("is_dup_near"), col("__first_id"))))
      .drop("__rn", "__first_id")

    val unioned = candFlagged.unionByName(rest)
    Filters.applyRules(unioned, Seq(col("is_dup_near") -> "near_duplicate"))
  }

  /** D1∘D2 composition, reference stage-4 semantics — value-identical to
    * `nearDedup(exactDedup(df))` (parity-pinned in FiltersDedupSpec) but
    * with the narrow-shuffle shape: by dedup time the pipeline frame
    * carries four text-sized columns (raw/norm/deep-clean/masked) plus
    * ~25 metrics, and the composed form drags ALL of it through two
    * window shuffles. Here both windows run over a projection of
    * (seq, doomed, id, exact-hash, md5'd near-key) — tens of bytes per
    * row — and the wide frame shuffles exactly once, for the flag
    * join-back. The canon columns the output contract exposes are
    * recomputed post-join from the text (one cheap codegen'd pass)
    * instead of being shuffled.
    *
    * Near-window details preserved from the composed form: rows doomed
    * by earlier stages OR by the exact pass sort last (never shadow a
    * kept row), non-candidates get a per-row unique key ("u:"+seq —
    * disjoint from md5 hex, so no collision with real buckets) and thus
    * singleton groups, and the md5 of the 500-char near key stands in
    * for the key itself (grouping is identical up to md5 collisions,
    * ~2^-128 per pair).
    */
  def dedupStage(df0: DataFrame, textCol: String = "text_pii_masked",
                 seqCol: String = "ingest_seq"): DataFrame = {
    // The frame is consumed twice (narrow window branch + join-back), so
    // persist at the branch point: without it the flags branch re-runs
    // the whole upstream scalar chain — the stage-2/3 regex pipeline at
    // pipeline scale — on a second scan (measured 7.1 s vs 4.5 s for
    // q_pipeline_full at sf0.1). Node-local materialization, not a
    // shuffle; released by the caller's clearCache like every
    // multi-consumer frame in the engine.
    //
    // Columnar-cache compression is OFF for this one persist (r14 A/B
    // at the 100x layout, numbers in SCALING.md; `perfbench/run.py
    // --trace 1` reports the stage as dedup.*): the frame is
    // dominated by four high-entropy text columns the lightweight
    // columnar codecs barely shrink — 1.10x footprint, measured — while
    // encode+2-consumer-decode costs 4.3 s of the 12.9 s dedup prefix
    // (45.4 -> 41.2 s for the s3+dedup chain). Network bytes at the
    // 1000-executor shape are unchanged either way (the cache is
    // node-local); a 10% bigger spill is the right price for dropping
    // one compress and two decompress passes over ~2 KB/row. The conf
    // is captured by CacheManager at persist() time (the r14 A/B
    // toggled it per variant at build time and measured the difference),
    // so the save/restore scopes it to exactly this cache.
    val compKey = "spark.sql.inMemoryColumnarStorage.compressed"
    val spark = df0.sparkSession
    // The set→persist→restore window mutates session-global conf; the
    // JVM-wide lock makes it atomic so two queries building concurrently
    // in one session can never interleave their save/restore pairs (the
    // r14 hygiene finding). Callers that capture this conf for their own
    // persists must build under the same lock — today query build is
    // single-threaded (Orchestrator), so this is belt-and-braces.
    val df = Dedup.ConfLock.synchronized {
      val prevComp = spark.conf.getOption(compKey)
      spark.conf.set(compKey, "false")
      try df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      finally prevComp match {
        case Some(v) => spark.conf.set(compKey, v)
        case None => spark.conf.unset(compKey)
      }
    }
    val idExpr =
      if (df.columns.contains("doc_id")) col("doc_id").cast("string")
      else col(seqCol).cast("string")
    val narrow = df
      .select(col(seqCol).as("__seq"), doomedLast(df).as("__doomed"),
        idExpr.as("__did"), Normalize.canonExact(col(textCol)).as("__canon"))
      .select(col("__seq"), col("__doomed"), col("__did"),
        Normalize.sha256Hex(col("__canon")).as("__eh"),
        substring(col("__canon"), 1, NearKeyChars).as("__nk"),
        length(col("__canon")).as("__clen"))
      .select(col("__seq"), col("__doomed"), col("__did"), col("__eh"),
        md5(col("__nk")).as("__nkh"),
        (col("__clen") >= NearDupMinLen && col("__nk") =!= "").as("__cand"))
    val we = Window.partitionBy("__eh").orderBy(col("__doomed"), col("__seq"))
    val afterExact = narrow
      .withColumn("__rne", row_number().over(we))
      .withColumn("__fide", first("__did").over(we))
      .withColumn("__de", col("__doomed") || col("__rne") > 1)
      .withColumn("__nkk", when(col("__cand"), col("__nkh"))
        .otherwise(concat(lit("u:"), col("__seq").cast("string"))))
    val wn = Window.partitionBy("__nkk").orderBy(col("__de"), col("__seq"))
    val flags = afterExact
      .withColumn("__rnn", row_number().over(wn))
      .withColumn("__fidn", first("__did").over(wn))
      .select(col("__seq"),
        (col("__rne") > 1).as("__isde"),
        when(col("__rne") > 1, col("__fide")).as("__dofe"),
        (col("__cand") && col("__rnn") > 1 && !(col("__rne") > 1)).as("__isdn"),
        col("__fidn"))
    // column order matters for schema parity: dup_of BEFORE
    // is_dup_exact, matching exactDedup's withColumn order, so the
    // composed and fused forms agree positionally too (parquet schema
    // diffs, select-by-index), not just by name
    val wide = df.join(flags, col(seqCol) === col("__seq")).drop("__seq")
      .withColumn("dedup_id", idExpr)
      .withColumn("exact_canon_text", Normalize.canonExact(col(textCol)))
      .withColumn("exact_hash", Normalize.sha256Hex(col("exact_canon_text")))
      .withColumn("dup_of", col("__dofe"))
      .withColumn("is_dup_exact", col("__isde"))
    val exactRuled = Filters.applyRules(wide,
      Seq(col("is_dup_exact") -> "exact_duplicate"))
    val near = exactRuled
      .withColumn("near_key", Normalize.canonNear(col(textCol), NearKeyChars))
      .withColumn("is_dup_near", col("__isdn"))
      .withColumn("dup_of",
        coalesce(col("dup_of"), when(col("is_dup_near"), col("__fidn"))))
      .drop("__isde", "__dofe", "__isdn", "__fidn")
    Filters.applyRules(near, Seq(col("is_dup_near") -> "near_duplicate"))
  }

  /** Incremental exact dedup — the daily-ingest shape at corpus scale:
    * dedup a NEW batch against the running corpus without re-windowing
    * history. Within-batch keep-first runs as the usual window; rows
    * whose hash already exists in `seenHashes` (the running corpus
    * state) are marked duplicates via a left join — the historical
    * corpus contributes only its distinct hash set, never re-shuffles
    * its rows.
    *
    * dup_of lineage: if the state table carries the kept row's
    * `dedup_id` alongside `exact_hash`, cross-batch duplicates point at
    * the true (corpus) keeper — including a batch-first row that loses
    * to history. With a hash-only state table, dup_of stays batch-local
    * (cross-batch dups get null), so keep the id column in the state.
    * Callers append `result.filter(!is_dup_exact)
    * .select("exact_hash", "dedup_id")` to the state (both sides
    * hash-partition on exact_hash, so the append is shuffle-free when
    * the state table is bucketed on the hash).
    */
  def incrementalExactDedup(batch: DataFrame, seenHashes: DataFrame,
                            textCol: String = "text_pii_masked",
                            seqCol: String = "ingest_seq"): DataFrame = {
    val flagged = exactDedup(batch, textCol, seqCol)
    val seen =
      if (seenHashes.columns.contains("dedup_id"))
        seenHashes.groupBy(col("exact_hash").as("__seen_hash"))
          .agg(min("dedup_id").as("__seen_id"))
      else
        seenHashes.select(col("exact_hash").as("__seen_hash")).distinct()
          .withColumn("__seen_id", lit(null).cast("string"))
    flagged
      .join(seen, col("exact_hash") === col("__seen_hash"), "left")
      .withColumn("is_dup_exact",
        col("is_dup_exact") || col("__seen_hash").isNotNull)
      // the corpus keeper predates everything in the batch, so it wins
      // the lineage pointer over the within-batch first occurrence
      .withColumn("dup_of",
        when(col("__seen_hash").isNotNull && col("__seen_id").isNotNull,
          col("__seen_id")).otherwise(col("dup_of")))
      .withColumn("drop_reason",
        when(col("drop_reason").isNull && col("__seen_hash").isNotNull,
          "exact_duplicate").otherwise(col("drop_reason")))
      .drop("__seen_hash", "__seen_id")
  }

  /** Within-document repeated-segment removal, keeping each segment's
    * first occurrence in reading order (the intra-doc counterpart of
    * [[Curation.lineDedup]]'s corpus-frequency removal — C4 applies
    * both: a nav bar repeated inside one page is noise even if no other
    * document shares it).
    *
    * Pure per-row array work: keep-first is
    * `filter(segs, (s, i) -> array_position(segs, s) == i+1)` — the
    * first occurrence is the only index where position-of-first-match
    * equals own index. O(n²) comparisons per row on segment counts
    * (tens, not thousands — segments, not tokens), zero shuffles, stays
    * in whole-stage codegen; at 100 TB this costs exactly one pass like
    * every other scalar stage.
    */
  def intraDedup(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 segLen: Int = Curation.LineDedupSegLen): DataFrame = {
    val staged = df.select(col(idCol),
      Curation.segments(graft.text.TextMetrics.tokens(col(textCol)), segLen).as("__segs"))
    val kept = filter(col("__segs"),
      (s, i) => array_position(col("__segs"), s) === (i + lit(1)))
    staged
      .withColumn("n_segs", size(col("__segs")).cast("long"))
      .withColumn("__kept", kept)
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("clean_md5", md5(array_join(col("__kept"), " ")))
      .drop("__segs", "__kept")
  }

  /** Corpus novelty curve — the "is new data still new?" report that
    * decides when a crawl source is mined out: bucket the corpus into
    * ingest batches, credit each distinct content hash to the batch
    * where it FIRST appears, and report per batch how many of its rows
    * are first sightings. A falling novelty rate is the signal to
    * retire a source (or raise its dedup aggressiveness) before paying
    * to process another 10 TB of it.
    *
    * Scale shape: ONE corpus scan and ONE corpus-keyed shuffle — the
    * (hash, batch) count aggregate (map-side partial combine) — whose
    * persisted output is at most rows-sized and feeds both downstream
    * aggregates: per-batch totals directly, and min-batch-per-hash →
    * per-batch first-sighting counts. The final join touches two
    * batch-keyed slivers (rows = number of batches). Nothing
    * corpus-sized is ever joined or broadcast. (The persist is released
    * by the caller's clearCache, like the sketch caches.)
    */
  def noveltyCurve(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   batchSize: Int = 100): DataFrame = {
    val counts = df.select(
        floor(col(idCol) / batchSize).cast("long").as("batch"),
        md5(coalesce(col(textCol), lit(""))).as("__h"))
      .groupBy("__h", "batch").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.groupBy("batch").agg(sum("n").as("n_docs"))
    val novel = counts.groupBy("__h").agg(min("batch").as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_q",
        floor(col("n_novel").cast("double") * 10000.0 /
          col("n_docs").cast("double")).cast("long"))
  }
}
