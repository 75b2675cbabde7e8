package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** E1 checkpointed orchestrator: per-stage materialization, drop-reason
  * side outputs, and resume-from-stage equivalence at sf0.001.
  */
class OrchestratorSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs of one warm `Orchestrator.run` at sf0.001 in the test
    * session (local[4], 4 shuffle partitions, AQE on): v1 1 (the
    * write); v2, v3, v5, v6 3 each (two writes, the one-job kept/dropped
    * count); v4 9 and v7 4 with their own shuffles.
    */
  private val ExpectedJobs = 26

  private lazy val outDir = {
    val dir = Files.createTempDirectory("graft-orch").toString
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    Orchestrator.run(spark, dir, raw = Some(raw))
    dir
  }

  test("ingest: the injectable P11 batch timestamp lands verbatim; the " +
    "default is a parseable instant") {
    import spark.implicits._
    val raw = Seq(("https://x/1", "some text")).toDF("url", "text")
    val injected = Pipeline.ingest(raw, ingestTs = Some("2026-01-01T00:00:00Z"))
      .select("ingest_ts").collect()(0).getString(0)
    assert(injected === "2026-01-01T00:00:00Z")
    val default = Pipeline.ingest(raw)
      .select("ingest_ts").collect()(0).getString(0)
    java.time.Instant.parse(default) // throws if not a valid instant
  }

  test("every stage boundary materializes: v1..v7 + dropped_v2..v7") {
    (1 to 7).foreach { v =>
      val p = Orchestrator.versionPath(outDir, v)
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing $p")
    }
    (2 to 7).foreach { v =>
      val p = Orchestrator.droppedPath(outDir, v)
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing $p")
    }
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/run_summary.json")))
  }

  test("per-stage drop-reason tables: reasons belong to their stage") {
    // Stage 2 dropped rows must carry only stage-2 reasons (prefilter /
    // lang / quality), never later-stage ones; stage 4 only dup reasons.
    val s2Reasons = spark.read.parquet(Orchestrator.droppedPath(outDir, 2))
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    val stage2Expected = Set("missing", "empty_after_clean", "null_like",
      "numeric_like", "too_short_chars", "too_short_words", "too_long",
      "lang_unknown", "non_english", "low_lang_confidence", "non_latin_heavy",
      "empty_text", "too_short", "low_alpha_ratio", "high_repetition",
      "blocked_url", "pii_heavy", "high_toxicity")
    assert(s2Reasons.nonEmpty && s2Reasons.subsetOf(stage2Expected), s2Reasons)

    val s4Reasons = spark.read.parquet(Orchestrator.droppedPath(outDir, 4))
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    assert(s4Reasons.subsetOf(Set("exact_duplicate", "near_duplicate")), s4Reasons)

    // kept frames carry no drop_reason at any version
    (2 to 7).foreach { v =>
      val n = spark.read.parquet(Orchestrator.versionPath(outDir, v))
        .filter(col("drop_reason").isNotNull).count()
      assert(n === 0, s"v$v has $n rows with drop_reason set")
    }
  }

  test("stage flow conserves rows: kept(v) + dropped(v) == kept(v-1)") {
    (2 to 6).foreach { v =>
      val in = spark.read.parquet(Orchestrator.versionPath(outDir, v - 1)).count()
      val kept = spark.read.parquet(Orchestrator.versionPath(outDir, v)).count()
      val drop = spark.read.parquet(Orchestrator.droppedPath(outDir, v)).count()
      assert(kept + drop === in, s"v$v: $kept + $drop != $in")
    }
    // v7 (shard) drops nothing, adds global_seq/shard_id
    val v7 = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
    assert(v7.count() ===
      spark.read.parquet(Orchestrator.versionPath(outDir, 6)).count())
    assert(v7.columns.contains("shard_id") && v7.columns.contains("global_seq"))
  }

  test("fused pipeline equals checkpointed pipeline on kept rows") {
    // The single-frame fused mode (Pipeline.run) masks dropped rows and
    // keeps computing; the orchestrator physically splits per stage like
    // the reference. With doomed rows ordered last in the dedup windows,
    // the two modes must produce the IDENTICAL kept set with identical
    // stage columns — the single-frame design's core claim.
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    val cols = Seq("doc_id", "lang_pred", "token_count", "has_pii",
      "is_dup_exact", "is_dup_near", "quality_score", "subset", "n_tokens",
      "global_seq", "shard_id")
    val fused = Pipeline.shard(Pipeline.run(Pipeline.ingest(raw)))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val checkpointed = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(fused === checkpointed)
  }

  test("resume from stage 5 reproduces the original v7 exactly") {
    val original = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    // wipe v5..v7, rerun from stage 5 against the surviving v4
    Orchestrator.run(spark, outDir, fromVersion = 5)
    val resumed = spark.read.parquet(Orchestrator.versionPath(outDir, 7))
      .select("doc_id", "quality_score", "subset", "n_tokens", "shard_id")
      .collect().map(_.toSeq).toSet
    assert(resumed === original)
  }

  /** English prose that passes every stage-2/3 filter: seven sentences
    * drawn (seeded by `i`) from a fixed pool, so two documents share a
    * dedup key only by a 1-in-16⁷ draw.
    */
  private def prose(i: Int): String = {
    val pool = Seq(
      "The river runs past the old mill and into the quiet town.",
      "Every morning the baker opens his shop before the sun rises.",
      "Children walk to school along the narrow road by the church.",
      "She wrote a long letter to her brother who lives in the city.",
      "The farmers gathered in the market to sell their fresh vegetables.",
      "A small boat drifted slowly across the calm water of the lake.",
      "He spent the whole afternoon reading books in the public library.",
      "Our neighbours planted a garden full of roses and tall sunflowers.",
      "The train to the coast leaves from the station at noon every day.",
      "Visitors often stop at the museum to see the paintings and maps.",
      "After the storm the workers repaired the roof of the town hall.",
      "The teacher asked the students to write a story about their summer.",
      "In the evening families walk along the beach and watch the waves.",
      "The doctor told him to rest for a week and drink plenty of water.",
      "Our team worked late to finish the report before the deadline.",
      "The mountain path is steep but the view from the top is beautiful.")
    val r = new java.util.Random(i)
    Seq.fill(7)(pool(r.nextInt(pool.length))).mkString(" ")
  }

  test("incremental run matches a from-scratch run on content columns") {
    import spark.implicits._
    def raw(ids: Seq[Int]) =
      ids.map(i => (s"https://x/doc/$i", prose(i))).toDF("url", "text")
    // snapshot B = A without every third doc, plus 30 new docs placed
    // FIRST (doc_id is content-addressed, so an edited doc IS a
    // remove+add): B's own numbering gives the new docs seqs 0..29, the
    // seqs that A's docs 1, 2, 4, 5, ... carry forward with, and nearly
    // every row reaches dedup, where a shared seq would fan out
    val rawA = raw(0 until 120)
    val rawB = raw((1000 until 1030) ++ (0 until 120).filter(_ % 3 != 0))
    val prevDir = Files.createTempDirectory("graft-inc-prev").toString
    Orchestrator.run(spark, prevDir, raw = Some(rawA))
    // the production CLI never calls clearCache, so incrementalRun must
    // release its own stage-2/3 persists (ADVICE r12): start from a
    // clean cache and assert none survive the call
    spark.catalog.clearCache()
    val incDir = Files.createTempDirectory("graft-inc-out").toString
    val incr = Orchestrator.incrementalRun(spark, prevDir, incDir, rawB)
    assert(org.apache.spark.sql.GraftSqlBridge.noCachedPlans(spark),
      "incrementalRun left DataFrame-level caches pinned")
    val fullDir = Files.createTempDirectory("graft-inc-full").toString
    Orchestrator.run(spark, fullDir, raw = Some(rawB))
    // content columns must agree AS MULTISETS (a set compare hides the
    // fan-out of an ingest_seq collision between carried and delta
    // rows); seq-derived artifacts (shard_id, global_seq) legitimately
    // follow each run's ingest interleaving
    val cols = Seq("doc_id", "lang_pred", "token_count", "has_pii",
      "quality_score", "subset", "n_tokens")
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
        .groupBy(identity).view.mapValues(_.size).toMap
    val (a, b) = (bag(incr), bag(spark.read.parquet(Orchestrator.versionPath(fullDir, 7))))
    val differ = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    assert(differ.isEmpty, s"${differ.size} content rows differ in count " +
      "(incremental vs from-scratch), e.g. " + differ.take(3).map(k =>
        s"${k.head}: ${a.getOrElse(k, 0)} vs ${b.getOrElse(k, 0)}").mkString(", "))
    val v7 = spark.read.parquet(Orchestrator.versionPath(incDir, 7))
    assert(v7.select("doc_id").distinct().count() === v7.count(),
      "incremental v7 doc_id is not unique")
    val v3 = spark.read.parquet(Orchestrator.versionPath(incDir, 3)).count()
    val v4 = spark.read.parquet(Orchestrator.versionPath(incDir, 4)).count() +
      spark.read.parquet(Orchestrator.droppedPath(incDir, 4)).count()
    assert(v4 === v3, s"dedup fanned out: v4 kept + dropped $v4 != v3 $v3")
    // the snapshot's seqs start past the base run's, so new documents
    // lose keep-first to established ones
    val prevMax = spark.read.parquet(Orchestrator.versionPath(prevDir, 1))
      .agg(max("ingest_seq")).head().getLong(0)
    val curMin = spark.read.parquet(Orchestrator.versionPath(incDir, 1))
      .agg(min("ingest_seq")).head().getLong(0)
    assert(curMin === prevMax + 1)
  }

  test("one run's Spark jobs: no count or footer-inference job per stage") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    val dir = Files.createTempDirectory("graft-orch-jobs").toString
    // AQE's runtime broadcast conversion depends on which join side's
    // map stage finishes first, so under CPU load the dedup plan (and
    // every later stage's partition count) can differ between runs;
    // without it the plans, and so the job count, follow the data alone
    def noRuntimeBroadcast[T](body: => T): T = {
      val key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // warm-up run: plans, code caches, file listing
    noRuntimeBroadcast(Orchestrator.run(spark, dir, raw = Some(raw)))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(untagged)"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      noRuntimeBroadcast(Orchestrator.run(spark, dir, raw = Some(raw)))
      var last = -1
      var stable = 0
      while (stable < 3) { // three consecutive quiet polls
        Thread.sleep(200)
        val n = jobs.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val perStage = jobs.asScala.toSeq.groupBy(identity).view
      .mapValues(_.size).toSeq.sortBy(_._1)
    // Per stage: the two writes' jobs (plus each stage's own shuffles
    // and numbering passes) and one kept/dropped count over the cached
    // stage frame; no `count()` of a read-back and no footer-inference
    // job for any read-back.
    assert(jobs.size === ExpectedJobs,
      s"jobs per stage: ${perStage.map { case (s, n) => s"$s=$n" }.mkString(", ")}")
  }

  test("read-backs carry exactly the schema parquet inference gives") {
    val raw = Pipeline.fromDocuments(Tables.documents(spark, sfDir))
      .select("url", "text")
    def inferred(v: Int) = spark.read.parquet(Orchestrator.versionPath(outDir, v)).schema
    def readBack(v: Int, written: org.apache.spark.sql.types.StructType) =
      spark.read.schema(written).parquet(Orchestrator.versionPath(outDir, v)).schema
    assert(readBack(1, Pipeline.ingest(raw).schema) === inferred(1), "v1")
    Orchestrator.stages().foreach { case (v, name, fn) =>
      val written = fn(spark.read.parquet(Orchestrator.versionPath(outDir, v - 1))).schema
      assert(readBack(v, written) === inferred(v), s"v$v:$name")
    }
    spark.catalog.clearCache()
    // the frame a run returns is its own v7 read-back
    val dir = Files.createTempDirectory("graft-orch-schema").toString
    val end = Orchestrator.run(spark, dir, raw = Some(raw))
    assert(end.schema ===
      spark.read.parquet(Orchestrator.versionPath(dir, 7)).schema)
  }
}
