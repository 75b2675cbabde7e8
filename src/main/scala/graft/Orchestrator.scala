package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

import graft.ops.Filters
import graft.sources.Sinks

/** Checkpointed pipeline orchestrator (SURVEY.md §3 E1): the reference's
  * resumable run mode (run_pipeline.py:24-49), where every stage persists
  * its full output as a versioned parquet (`mainpipe_v1..v7`) plus the
  * rows it dropped, and a crashed or killed run restarts from the last
  * completed version instead of from raw.
  *
  * Contrast with [[Pipeline.run]]: that fuses stages 2-6 into one lazy
  * Catalyst DAG — the fast path when nothing needs inspecting. This
  * runner trades extra IO for operability: each stage boundary is a real
  * parquet (inspectable, diffable, resumable), the exact workflow the
  * reference's subprocess-per-stage design provides. At 100 TB use this
  * mode for the first run of a new corpus (stage outputs feed audits)
  * and the fused mode for steady-state re-runs.
  *
  * Stage boundaries follow the reference: each stage receives only the
  * KEPT rows of its predecessor (the reference physically splits
  * kept/dropped per stage); dropped rows land in a side parquet named by
  * stage, so per-stage drop-reason audits never rescan the main line.
  * For order-sensitive stages this split is the reference-faithful
  * semantics: dedup keep-first here considers only surviving rows,
  * whereas the fused single-frame mode windows over all rows (a doomed
  * row can "win" a hash group and shadow a kept one) — documented
  * divergence between the two modes (duplication.py:114-141 operates on
  * the post-filter frame).
  */
object Orchestrator {

  /** Highest stage version (v7 = sharded). */
  val LastVersion = 7

  def versionPath(outDir: String, v: Int): String =
    s"$outDir/mainpipe_v$v.parquet"

  def droppedPath(outDir: String, v: Int): String =
    s"$outDir/dropped_v$v.parquet"

  /** Write one stage's kept/dropped split. The stage frame is PERSISTED
    * across the two writes: without it (a) the whole scalar chain runs
    * twice (once per write), and (b) Catalyst pushes each
    * `drop_reason`-filter down through the stage's projections,
    * substituting the FULL expression chain into the filter condition —
    * at stage 2 that inlines the nfkc/profile/reason tree ~50× into one
    * Filter, janino dies on the generated method
    * (InternalCompilerException, 6× per round-11 test run) and the
    * write silently runs interpreted. Filtering the materialized
    * columns instead costs one local spill of a frame this mode is
    * already writing to parquet twice — cheap against the 40:1
    * text-processing-vs-IO profile (BASELINE.md) it de-duplicates.
    * Returns the (kept, dropped) row counts from one aggregate over that
    * same cache (only its `drop_reason` column is read), not from counts
    * of the two files; aggregated at the RDD level it is one job, where
    * a DataFrame aggregate costs AQE a map-stage job and a final job.
    */
  private def writeSplit(out: DataFrame, keptPath: String,
                         droppedPath: String): (Long, Long) = {
    val mat = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Filters.kept(mat).write.mode("overwrite").parquet(keptPath)
      Filters.dropped(mat).write.mode("overwrite").parquet(droppedPath)
      mat.select(col("drop_reason").isNull).queryExecution.toRdd
        .aggregate((0L, 0L))(
          (n, r) => if (r.getBoolean(0)) (n._1 + 1, n._2) else (n._1, n._2 + 1),
          (a, b) => (a._1 + b._1, a._2 + b._2))
    } finally mat.unpersist(blocking = false)
  }

  /** Ordered stage table: (version, name, transform). Stage v consumes
    * kept rows of v-1. Versions match the reference's file numbering.
    */
  def stages(dropPii: Boolean = false): Seq[(Int, String, DataFrame => DataFrame)] = Seq(
    (2, "clean_and_filter", df => Pipeline.cleanAndFilter(df)),
    (3, "deep_clean_and_pii", df => Pipeline.deepCleanAndPii(df, dropPii)),
    (4, "dedup", df => Pipeline.dedup(df)),
    (5, "score", df => Pipeline.score(df)),
    (6, "tokenise", df => Pipeline.tokenise(df)),
    (7, "shard", df => Pipeline.shard(df)))

  /** The end-of-run cache fence behind `releaseCaches = true`: session-
    * global clearCache (the stage transforms' internal persists are not
    * individually reachable from here), but with a WARN when the fence
    * is about to evict cached plans that already existed when the run
    * STARTED — those are caller-owned frames the orchestrator did not
    * create, and an embedder losing them silently was the ADVICE r13
    * finding. The warned caller's fix is `releaseCaches = false` (own
    * the release). `preRun` is the RDD-id snapshot taken at entry.
    */
  private def releaseFence(spark: SparkSession, preRun: Set[Int]): Unit = {
    val survivors = spark.sparkContext.getPersistentRDDs.keySet & preRun
    if (survivors.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"orchestrator cache fence: clearCache() is evicting " +
          s"${survivors.size} cached RDD(s) that existed before this run " +
          "— caller-owned frames the orchestrator did not create; pass " +
          "releaseCaches = false to keep them and own the release")
    spark.catalog.clearCache()
  }

  private def persistentRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` with its Spark jobs described as `stage` (the UI's and
    * listeners' `spark.job.description`), restoring the caller's
    * description afterwards.
    */
  private def described[T](spark: SparkSession, stage: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(stage)
    try body finally sc.setJobDescription(prev)
  }

  /** Read back the parquet `written` was just saved to, with its schema:
    * the read-back cuts lineage, and no footer-inference job runs.
    */
  private def readBack(written: DataFrame, path: String): DataFrame =
    written.sparkSession.read.schema(written.schema).parquet(path)

  private def checkpoint(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    readBack(df, path)
  }

  /** The stage loop shared by [[run]] and [[incrementalRun]]: stages
    * [fromV..7] over `input` (the kept rows of v{fromV-1}), each
    * materialized and read back as the next stage's input, then
    * `run_summary.json` (`prefix` rows first) and the cache fence.
    */
  private def stageLoop(spark: SparkSession, outDir: String,
                        input: DataFrame, fromV: Int, dropPii: Boolean,
                        prefix: Seq[(String, Long, Long)],
                        releaseCaches: Boolean, preRun: Set[Int]): DataFrame = {
    var cur = input
    val counts = Seq.newBuilder[(String, Long, Long)] ++= prefix
    stages(dropPii).dropWhile(_._1 < fromV).foreach { case (v, name, fn) =>
      val stage = s"v$v:$name"
      described(spark, stage) {
        val out = fn(cur)
        val (kept, dropped) =
          writeSplit(out, versionPath(outDir, v), droppedPath(outDir, v))
        cur = readBack(out, versionPath(outDir, v))
        counts += ((stage, kept, dropped))
      }
    }
    val summary = {
      import spark.implicits._
      counts.result().toDF("stage", "kept", "dropped")
    }
    Sinks.writeMetricsJson(Map("stages" -> summary), s"$outDir/run_summary.json")
    // Cache hygiene: the stage transforms persist their multi-consumer
    // branch points (dedupStage etc.) under the engine's
    // released-by-the-caller convention — and for these entry points
    // the owning caller is the orchestrator itself. Every stage output
    // is on disk and `cur` is a parquet read-back, so nothing cached is
    // live; without the fence a long-lived session invoking runs
    // repeatedly accretes pinned frames (the production CLI never calls
    // clearCache). The fence is session-GLOBAL (the stage transforms'
    // internal persists are not individually reachable from here), so
    // an embedder holding its own cached frames in the same session
    // passes releaseCaches = false and owns the release itself (the
    // fence WARNs when it is about to evict such pre-existing frames;
    // OrchestratorSpec pins that no DataFrame-level cache survives).
    if (releaseCaches) releaseFence(spark, preRun)
    cur
  }

  /** Run stages [fromVersion..7], materializing each boundary.
    *
    * fromVersion = 1 ingests `raw` (required) and writes v1; any higher
    * value resumes from `mainpipe_v{fromVersion-1}.parquet` in `outDir`
    * — `raw` is ignored, matching the reference's "rerun from stage N"
    * workflow. Returns the final frame read back from v7, and writes a
    * `run_summary.json` with per-stage kept/dropped row counts (H3),
    * taken from the stage frame the writes already cached.
    *
    * Each stage's input is the parquet read-back, not the in-memory
    * frame: lineage is cut at every boundary (no 7-stage mega-plan), and
    * a resume sees byte-identical input to the original run. A read-back
    * takes the schema of the frame just written, so it runs no
    * schema-inference job; only the resume's first read infers.
    */
  def run(spark: SparkSession, outDir: String,
          raw: Option[DataFrame] = None,
          fromVersion: Int = 1,
          dropPii: Boolean = false,
          releaseCaches: Boolean = true): DataFrame = {
    require(fromVersion >= 1 && fromVersion <= LastVersion,
      s"fromVersion must be in [1, $LastVersion], got $fromVersion")
    val preRun = if (releaseCaches) persistentRddIds(spark) else Set.empty[Int]
    val input =
      if (fromVersion == 1) {
        val rawDf = raw.getOrElse(throw new IllegalArgumentException(
          "fromVersion = 1 requires the raw input frame"))
        described(spark, "v1:ingest") {
          checkpoint(Pipeline.ingest(rawDf), versionPath(outDir, 1))
        }
      } else spark.read.parquet(versionPath(outDir, fromVersion - 1))
    stageLoop(spark, outDir, input, math.max(fromVersion, 2), dropPii,
      Nil, releaseCaches, preRun)
  }

  /** Incremental run over a previous completed run's outputs — the
    * reference's cost profile makes the split obvious: text processing
    * (stages 2–3) dominated its wall clock ~40:1 over dedup, and those
    * stages are row-local, so they run through
    * [[graft.ops.Incremental.processDelta]] against the previous v1/v3
    * parquets (unchanged docs carry forward, only the crawl delta pays
    * the scalar pipeline), while the genuinely corpus-global stages
    * (dedup → shard) re-run in full over the merged v3 — cheap by that
    * same profile.
    *
    * Provenance semantics: carried-forward rows keep their ORIGINAL
    * ingest_seq, and this snapshot's ingest_seq is shifted past the
    * previous run's v1 maximum, so the two never collide (the dedup
    * join-back on ingest_seq stays one-to-one) and established documents
    * keep winning keep-first dedup against newly-arrived duplicates;
    * order-derived artifacts (shard_id) therefore follow this run's seq
    * interleaving, not a from-scratch run's. v1 is written with the
    * shifted seqs, so a chain of incremental runs stays collision-free.
    * v2 and the per-stage dropped audits of the delta prefix are not
    * materialized in this mode (the trade for not rescanning the
    * corpus); run the full mode when audits are needed.
    */
  def incrementalRun(spark: SparkSession, prevDir: String, outDir: String,
                     rawCur: DataFrame, dropPii: Boolean = false,
                     releaseCaches: Boolean = true): DataFrame = {
    val preRun = if (releaseCaches) persistentRddIds(spark) else Set.empty[Int]
    val prevV1 = spark.read.parquet(versionPath(prevDir, 1))
    val prevV3 = spark.read.parquet(versionPath(prevDir, 3))
    val curV1 = described(spark, "v1:ingest") {
      val prevMax = prevV1.agg(max("ingest_seq")).head()
      val base = if (prevMax.isNullAt(0)) 0L else prevMax.getLong(0) + 1
      checkpoint(Pipeline.ingest(rawCur)
        .withColumn("ingest_seq", col("ingest_seq") + base),
        versionPath(outDir, 1))
    }
    // persist before each kept(): same pushdown-inlining rationale as
    // [[writeSplit]] — the stage-2 chain must not be substituted into
    // the filter condition (janino limit) or computed twice. The caches
    // are only live inputs to the v3 write, so they are released right
    // after it in the same try/finally discipline as writeSplit (the
    // production CLI never calls clearCache, so nothing else would).
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val rowLocal: DataFrame => DataFrame = df => {
      val s2 = Pipeline.cleanAndFilter(df)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += s2
      val s3 = Pipeline.deepCleanAndPii(Filters.kept(s2), dropPii)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += s3
      Filters.kept(s3)
    }
    val (v3, v3Rows) = described(spark, "v3:incremental_prefix") {
      val v3 =
        try checkpoint(graft.ops.Incremental.processDelta(curV1, prevV1,
          prevV3, rowLocal), versionPath(outDir, 3))
        finally persisted.foreach(_.unpersist(blocking = false))
      (v3, v3.count())
    }
    stageLoop(spark, outDir, v3, 4, dropPii,
      Seq(("v3:incremental_prefix", v3Rows, -1L)), releaseCaches, preRun)
  }

  /** CLI parity with the reference's `python run_pipeline.py` entry:
    *
    *   sbt "runMain graft.Orchestrator <sfDir> <outDir> [fromVersion]"
    *
    * fromVersion > 1 resumes from the existing `mainpipe_v{N-1}.parquet`
    * in outDir (the reference's rerun-from-stage-N workflow).
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 3,
      "usage: Orchestrator <sfDir> <outDir> [fromVersion]")
    val Array(sfDir, outDir) = args.take(2)
    val fromVersion = if (args.length == 3) args(2).toInt else 1
    val spark = Sizing.session(sfDir)
    val raw = if (fromVersion == 1)
      Some(Pipeline.fromDocuments(Tables.documents(spark, sfDir)).select("url", "text"))
    else None
    val end = run(spark, outDir, raw, fromVersion)
    println(s"[orchestrator] v$LastVersion rows: ${end.count()} -> $outDir")
    spark.stop()
  }
}
