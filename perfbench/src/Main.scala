package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orchestrator, Pipeline, SparkEntry, Tables}
import graft.ops.Filters

/** The repository benchmark: one workload per invocation.
  *
  *   Main --workload <chain_web|chain_dupheavy|query_panel|incr_dupheavy>
  *        --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Inputs are generated from the seed under `<work>/in` (sf layout) with
  * their ground truth under `<work>/truth`; generation is not timed. The
  * run then sets up (session start + warm-up) three times, builds any
  * base state once, and repeats the workload's operation until `seconds`
  * have passed, checking each output after its clock stops. The traced
  * run (trace 1) sets up once, replays the operation layer by layer
  * under spans with the counter listener, then times it untraced.
  * The last stdout line is one JSON object; stderr carries diagnostics.
  */
object Main {

  val Cpus: Int = Runtime.getRuntime.availableProcessors()
  val SetupReps = 3

  // ---- workload shapes -----------------------------------------------------

  val Web = CorpusSpec(docs = 3000, files = 8, meanChars = 1900,
    minChars = 600, maxChars = 5000, exactFrac = 0.12, nearFrac = 0.08,
    hotShare = 0.0, hotKeys = 0, junkFrac = 0.10, piiFrac = 0.03)
  val DupHeavy = CorpusSpec(docs = 12000, files = 8, meanChars = 700,
    minChars = 560, maxChars = 1200, exactFrac = 0.30, nearFrac = 0.15,
    hotShare = 0.4, hotKeys = 3, junkFrac = 0.03, piiFrac = 0.02)
  val PanelDocs: CorpusSpec = Web.copy(docs = 400, files = 4)
  val PanelEmbeddings = 2000
  val PanelLineitems = 100000
  val DeltaChange = 0.03
  val DeltaAdd = 0.03
  val DeltaRemove = 0.03
  /** Warm-up inputs: the workload's own generator at 1/16 of the size. */
  def warm(s: CorpusSpec): CorpusSpec = s.copy(docs = s.docs / 16)

  val Panel: Seq[String] = Seq("q_pipeline_full_fixed", "q_pipeline_graded_full",
    "q_dup_spans", "q_span_removal", "q_source_overlap", "q_winnow_overlap",
    "q_kn_perplexity", "q_incr_heavy", "q_containment", "q_pq_search",
    "q_ivfpq_search", "q1_pricing_summary")

  val Layers: Seq[String] = Seq("ingest", "clean_and_filter",
    "deep_clean_and_pii", "dedup", "score", "tokenise", "shard",
    "process_delta")
  val Kernels: Seq[String] = Seq("normalize_text", "lang_tox", "text_ratios",
    "structural_cleanup", "pii_scan", "tokenize", "exact_hash")

  // ---- process-level meters --------------------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Reset VmHWM to the current RSS (Linux clear_refs 5). */
  def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val log = (s: String) => System.err.println(s"[perfbench] $s")

  // ---- sessions and inputs ---------------------------------------------------

  /** The session `Orchestrator.main` and `Bench` build, with Spark's
    * scratch space inside the work directory.
    */
  def session(work: String, sizingDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.Sizing.shufflePartitions(sizingDir).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Dirs(work: String) {
    def in(n: String) = s"$work/in/$n"
    def truth(n: String) = s"$work/truth/$n"
    def out(n: String) = s"$work/out/$n"
  }

  def genCorpus(seed: Long, s: CorpusSpec, sf: String, truth: String): Unit =
    Gen.write(s.files, f => Gen.genFile(seed, s, f), sf, truth)

  def genSnapshot(seed: Long, s: CorpusSpec, sf: String, truth: String): Unit =
    Gen.write(s.files, f => Gen.nextSnapshot(seed, s, f,
      Gen.genFile(seed, s, f), DeltaChange, DeltaAdd, DeltaRemove), sf, truth)

  def genPanel(seed: Long, sf: String, truth: String, scale: Int): Unit = {
    genCorpus(seed, PanelDocs.copy(docs = PanelDocs.docs / scale), sf, truth)
    Gen.writePanelTables(seed, sf, PanelEmbeddings / scale, PanelLineitems / scale)
  }

  def raw(spark: SparkSession, sf: String): DataFrame =
    Pipeline.fromDocuments(Tables.documents(spark, sf)).select("url", "text")

  def docCount(spark: SparkSession, sf: String): Long =
    spark.read.parquet(s"$sf/documents.parquet").count()

  // ---- operations --------------------------------------------------------------

  /** One timed operation: wall and process CPU seconds, peak RSS, and the
    * bytes it left under its output directory.
    */
  final case class Sample(wallS: Double, cpuS: Double, rssMb: Double,
                          bytesWritten: Long)

  def timed(outDir: Option[String])(body: => Unit): Sample = {
    System.gc() // every operation starts from the same compacted heap
    resetPeakRss()
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val c1 = cpuNs()
    Sample((t1 - t0) / 1e9, (c1 - c0) / 1e9, peakRssMb(),
      outDir.map(d => dirBytes(new File(d))).getOrElse(0L))
  }

  /** What one timed step produced: its sample (absent when any operation
    * in it failed), the operations it attempted and the problems found.
    */
  final case class Step(sample: Option[Sample], attempted: Int,
                        problems: Seq[String])

  trait Workload {
    def name: String
    /** Write every input under `dirs`. */
    def generate(seed: Long, dirs: Dirs): Unit
    /** The sf directory the timed step reads (it also sizes the session). */
    def input(dirs: Dirs): String
    /** Warm-up at the workload's own shape, on the small warm inputs. */
    def warmUp(spark: SparkSession, dirs: Dirs): Unit
    /** State the timed step needs, built once inside the set-up clock. */
    def base(spark: SparkSession, dirs: Dirs): Unit = ()
    /** One timed step, checked after its clock stops. */
    def step(spark: SparkSession, dirs: Dirs, i: Int): Step
    /** Checks made once per invocation, after the timed steps. */
    def finalCheck(spark: SparkSession, dirs: Dirs): Seq[String]
    /** The traced replay of one step; fills workload-specific metrics. */
    def traced(spark: SparkSession, dirs: Dirs, tr: Tracer,
               out: mutable.Map[String, Double]): Seq[String]
    /** Name of the traced replay's root span. */
    def root: String
    def chain: Boolean
  }

  /** A workload whose operation is one orchestrator run. */
  abstract class ChainWorkload extends Workload {
    val chain = true
    val root = "orchestrator"
    /** One orchestrator run over the warm corpus, so the timed run finds
      * the JIT and Spark's code caches filled for its own plans. (A fused
      * ingest → shard pass is cheaper, but left the timed run partly cold:
      * 13.4–15.7 s against 12.5–13.6 s on chain_dupheavy, and noisier.)
      */
    def warmUp(spark: SparkSession, d: Dirs): Unit = {
      Orchestrator.run(spark, d.out("warm"), Some(raw(spark, d.in("warm"))))
      rm(d.out("warm"))
    }
    def run(spark: SparkSession, d: Dirs, outDir: String): Unit
    def replay(spark: SparkSession, d: Dirs, tr: Tracer, outDir: String): Unit
    /** The summary stages whose kept + dropped chain from the first's
      * input count, and that count.
      */
    def countChain(sum: Seq[(String, Long, Long)], docs: Long): (Seq[(String, Long, Long)], Long)
    /** Planted labels (and any other full check) of one run's output. */
    def fullCheck(spark: SparkSession, d: Dirs, outDir: String): Seq[String]

    private var docs = 0L
    private var first: Option[Seq[(String, Long, Long)]] = None
    private var lastOk: Option[String] = None

    /** Checks of every run: the count chain of `run_summary.json`, the v7
      * invariants, and the same summary as the invocation's first run.
      */
    def quickCheck(spark: SparkSession, d: Dirs, outDir: String): Seq[String] = {
      if (docs == 0) docs = docCount(spark, input(d))
      val sum = Checks.summary(outDir)
      val (stages, in) = countChain(sum, docs)
      val p = Checks.countChain(stages, in) ++ Checks.v7(spark, outDir) ++
        first.filter(_ != sum).map(f => s"run summary differs between runs: $f vs $sum")
      if (first.isEmpty) first = Some(sum)
      p
    }

    def step(spark: SparkSession, d: Dirs, i: Int): Step = {
      val outDir = d.out(s"run$i")
      val s = timed(Some(outDir))(run(spark, d, outDir))
      val p = quickCheck(spark, d, outDir)
      if (p.isEmpty) { lastOk.foreach(rm); lastOk = Some(outDir) }
      Step(Some(s).filter(_ => p.isEmpty), 1, p)
    }

    def finalCheck(spark: SparkSession, d: Dirs): Seq[String] =
      lastOk.toSeq.flatMap(fullCheck(spark, d, _))

    def traced(spark: SparkSession, d: Dirs, tr: Tracer,
               out: mutable.Map[String, Double]): Seq[String] = {
      val outDir = d.out("traced")
      replay(spark, d, tr, outDir)
      out("orchestrator.write_mb") = dirBytes(new File(outDir)) / 1048576.0
      out("dedup.near_yield") = nearYield(spark, outDir)
      quickCheck(spark, d, outDir) ++ fullCheck(spark, d, outDir)
    }
  }

  /** Stage-by-stage replay of the orchestrator's stage loop for traced
    * runs: the same public stage functions, persist, kept/dropped writes,
    * read-backs and counts, with each stage call under its own span.
    */
  def writeSplit(df: DataFrame, kept: String, dropped: String): Unit = {
    val mat = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Filters.kept(mat).write.mode("overwrite").parquet(kept)
      Filters.dropped(mat).write.mode("overwrite").parquet(dropped)
    } finally mat.unpersist(blocking = false)
  }

  def tracedStages(spark: SparkSession, tr: Tracer, outDir: String,
                   from: Int, start: DataFrame): Seq[(String, Long, Long)] = {
    var cur = start
    val counts = mutable.ArrayBuffer.empty[(String, Long, Long)]
    Orchestrator.stages().dropWhile(_._1 < from).foreach { case (v, name, fn) =>
      tr.span(name) {
        writeSplit(fn(cur), Orchestrator.versionPath(outDir, v),
          Orchestrator.droppedPath(outDir, v))
      }
      cur = spark.read.parquet(Orchestrator.versionPath(outDir, v))
      counts += ((s"v$v:$name", cur.count(),
        spark.read.parquet(Orchestrator.droppedPath(outDir, v)).count()))
    }
    counts.toSeq
  }

  def writeSummary(spark: SparkSession, outDir: String,
                   counts: Seq[(String, Long, Long)]): Unit = {
    import spark.implicits._
    graft.sources.Sinks.writeMetricsJson(
      Map("stages" -> counts.toDF("stage", "kept", "dropped")),
      s"$outDir/run_summary.json")
  }

  /** Near-dup yield of a run's dedup stage: near duplicates flagged over
    * the rows that entered the near-dup window as candidates.
    */
  def nearYield(spark: SparkSession, outDir: String): Double = {
    val v4 = spark.read.parquet(Orchestrator.versionPath(outDir, 4))
      .unionByName(spark.read.parquet(Orchestrator.droppedPath(outDir, 4)))
    val r = v4.agg(
      sum(when(col("is_dup_near"), 1L).otherwise(0L)),
      sum(when(length(col("exact_canon_text")) >= graft.ops.Dedup.NearDupMinLen,
        1L).otherwise(0L))).head()
    if (r.getLong(1) == 0) 0.0 else r.getLong(0).toDouble / r.getLong(1)
  }

  /** `Orchestrator.run` over a generated corpus. The traced replay adds
    * the kernels alone (chain_web) or one pass of the query panel
    * (chain_dupheavy).
    */
  final class FullChain(val name: String, spec: CorpusSpec,
                        tracedKernels: Boolean, tracedPanel: Boolean)
      extends ChainWorkload {
    private var seed = 0L
    def generate(seed: Long, d: Dirs): Unit = {
      this.seed = seed
      genCorpus(seed, spec, d.in("corpus"), d.truth("corpus"))
      genCorpus(seed + 7777, warm(spec), d.in("warm"), d.truth("warm"))
    }
    def input(d: Dirs): String = d.in("corpus")
    def run(spark: SparkSession, d: Dirs, outDir: String): Unit =
      Orchestrator.run(spark, outDir, Some(raw(spark, input(d))))
    def replay(spark: SparkSession, d: Dirs, tr: Tracer, outDir: String): Unit = {
      tr.span(root) {
        tr.span("ingest") {
          Pipeline.ingest(raw(spark, input(d))).write.mode("overwrite")
            .parquet(Orchestrator.versionPath(outDir, 1))
        }
        val counts = tracedStages(spark, tr, outDir, 2,
          spark.read.parquet(Orchestrator.versionPath(outDir, 1)))
        writeSummary(spark, outDir, counts)
        spark.catalog.clearCache()
      }
      if (tracedKernels) kernels(spark, input(d), tr)
    }
    override def traced(spark: SparkSession, d: Dirs, tr: Tracer,
                        out: mutable.Map[String, Double]): Seq[String] =
      super.traced(spark, d, tr, out) ++ (if (!tracedPanel) Nil else {
        genPanel(seed, QueryPanel.input(d), d.truth("panel"), 1)
        QueryPanel.pass(spark, d, Some(tr))
      })
    def countChain(sum: Seq[(String, Long, Long)], docs: Long) = (sum, docs)
    def fullCheck(spark: SparkSession, d: Dirs, outDir: String): Seq[String] =
      Checks.labels(spark, outDir, spark.read.parquet(d.truth("corpus")), fullRun = true)
  }

  val ChainWeb = new FullChain("chain_web", Web, tracedKernels = true,
    tracedPanel = false)
  val ChainDupHeavy = new FullChain("chain_dupheavy", DupHeavy,
    tracedKernels = false, tracedPanel = true)

  /** Each kernel alone: a select over the corpus text to the noop sink. */
  def kernels(spark: SparkSession, sf: String, tr: Tracer): Unit = {
    import graft.text._
    val docs = Tables.documents(spark, sf).select(col("text"))
    val t = col("text")
    val sels: Seq[(String, DataFrame)] = Seq(
      "normalize_text" -> docs.select(Normalize.normalizeText(t)),
      "lang_tox" -> LangId.withLangToxColumns(docs, t).drop("text"),
      "text_ratios" -> docs.select(TextMetrics.alphaRatio(t),
        TextMetrics.repetitionRatio(t), TextMetrics.nonLatinRatio(t)),
      "structural_cleanup" -> docs.select(Normalize.structuralCleanup(t)),
      "pii_scan" -> docs.select(graft.plans.PiiScanFused(t)),
      "tokenize" -> docs.select(Tokenize.native(t)),
      "exact_hash" -> docs.select(Normalize.sha256Hex(Normalize.canonExact(t))))
    sels.foreach { case (k, df) =>
      tr.span(s"kernel.$k")(df.write.mode("overwrite").format("noop").save())
    }
  }

  /** `Orchestrator.incrementalRun` over a changed snapshot of a
    * duplicate-heavy corpus; the base run is set-up. Not in
    * BENCHMARK.json: its output check fails (see perfbench/README.md).
    */
  object IncrDupHeavy extends ChainWorkload {
    val name = "incr_dupheavy"
    def generate(seed: Long, d: Dirs): Unit = {
      genCorpus(seed, DupHeavy, d.in("base"), d.truth("base"))
      genSnapshot(seed, DupHeavy, d.in("snap"), d.truth("snap"))
      genCorpus(seed + 7777, warm(DupHeavy), d.in("warm"), d.truth("warm"))
    }
    def input(d: Dirs): String = d.in("snap")
    override def base(spark: SparkSession, d: Dirs): Unit =
      Orchestrator.run(spark, d.out("base"), Some(raw(spark, d.in("base"))))
    def run(spark: SparkSession, d: Dirs, outDir: String): Unit =
      Orchestrator.incrementalRun(spark, d.out("base"), outDir, raw(spark, input(d)))
    def replay(spark: SparkSession, d: Dirs, tr: Tracer, outDir: String): Unit = {
      val prevDir = d.out("base")
      tr.span(root) {
        val prevV1 = spark.read.parquet(Orchestrator.versionPath(prevDir, 1))
        val prevV3 = spark.read.parquet(Orchestrator.versionPath(prevDir, 3))
        tr.span("ingest") {
          Pipeline.ingest(raw(spark, input(d))).write.mode("overwrite")
            .parquet(Orchestrator.versionPath(outDir, 1))
        }
        val curV1 = spark.read.parquet(Orchestrator.versionPath(outDir, 1))
        val persisted = mutable.ArrayBuffer.empty[DataFrame]
        val rowLocal: DataFrame => DataFrame = df => {
          val s2 = Pipeline.cleanAndFilter(df)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += s2
          val s3 = Pipeline.deepCleanAndPii(Filters.kept(s2))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += s3
          Filters.kept(s3)
        }
        tr.span("process_delta") {
          try graft.ops.Incremental.processDelta(curV1, prevV1, prevV3, rowLocal)
            .write.mode("overwrite").parquet(Orchestrator.versionPath(outDir, 3))
          finally persisted.foreach(_.unpersist(blocking = false))
        }
        val v3 = spark.read.parquet(Orchestrator.versionPath(outDir, 3))
        val counts = ("v3:incremental_prefix", v3.count(), -1L) +:
          tracedStages(spark, tr, outDir, 4, v3)
        writeSummary(spark, outDir, counts)
        spark.catalog.clearCache()
      }
    }
    // the incremental prefix reports v3 only; the chain starts there
    def countChain(sum: Seq[(String, Long, Long)], docs: Long) = (sum.tail, sum.head._2)
    def fullCheck(spark: SparkSession, d: Dirs, outDir: String): Seq[String] =
      Checks.labels(spark, outDir, spark.read.parquet(d.truth("snap")), fullRun = false) ++
        Checks.incrementalV3(spark, outDir)
  }

  /** One pass over the declared panel of `SparkEntry` queries, each to
    * the noop sink with caches cleared after it (as `Bench` times them).
    * An operation is one query.
    */
  object QueryPanel extends Workload {
    val name = "query_panel"
    val chain = false
    val root = "panel"
    def generate(seed: Long, d: Dirs): Unit = {
      genPanel(seed, d.in("panel"), d.truth("panel"), 1)
      genPanel(seed + 7777, d.in("warm"), d.truth("warm"), 8)
    }
    def input(d: Dirs): String = d.in("panel")
    private def runQuery(spark: SparkSession, q: String, sf: String): Unit =
      SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
    def warmUp(spark: SparkSession, d: Dirs): Unit = Panel.foreach { q =>
      runQuery(spark, q, d.in("warm"))
      spark.catalog.clearCache()
    }
    /** One pass; each query under its own span when traced. Returns the
      * problems of the queries that threw.
      */
    def pass(spark: SparkSession, d: Dirs, tr: Option[Tracer],
             parts: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer.empty): Seq[String] = {
      val problems = mutable.ArrayBuffer.empty[String]
      def body(): Unit = Panel.foreach { q =>
        def one(): Unit =
          try runQuery(spark, q, input(d))
          catch { case e: Exception => problems += s"$q threw: ${e.getMessage}" }
        parts += timed(None)(tr.fold(one())(_.span(s"query.$q")(one())))
        spark.catalog.clearCache()
      }
      tr.fold(body())(_.span(root)(body()))
      problems.toSeq
    }
    def step(spark: SparkSession, d: Dirs, i: Int): Step = {
      val parts = mutable.ArrayBuffer.empty[Sample]
      val problems = pass(spark, d, None, parts)
      val s = Sample(parts.map(_.wallS).sum, parts.map(_.cpuS).sum,
        parts.map(_.rssMb).max, 0L)
      Step(Some(s).filter(_ => problems.isEmpty), Panel.size, problems)
    }
    /** Each query's result as parquet plus its oracle SQL, for the DuckDB
      * comparison the launcher makes after this process ends.
      */
    def finalCheck(spark: SparkSession, d: Dirs): Seq[String] = {
      val dump = s"${d.work}/oracle"
      val sqls = SparkEntry.oracleSql
      val problems = mutable.ArrayBuffer.empty[String]
      Panel.foreach { q =>
        try SparkEntry.queries(q)(spark, input(d)).coalesce(1)
          .write.mode("overwrite").parquet(s"$dump/$q")
        catch { case e: Exception => problems += s"$q threw: ${e.getMessage}" }
        spark.catalog.clearCache()
        if (!sqls.contains(q)) problems += s"$q has no oracle SQL"
      }
      def js(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
        Panel.filter(sqls.contains).map(q => s"${js(q)}: ${js(sqls(q))}")
          .mkString("{", ",\n", "}"))
      problems.toSeq
    }
    def traced(spark: SparkSession, d: Dirs, tr: Tracer,
               out: mutable.Map[String, Double]): Seq[String] =
      pass(spark, d, Some(tr))
  }

  /** BENCHMARK.json's workloads come first; the other two are runnable
    * by name (see perfbench/README.md for why they are not in it).
    */
  val Workloads: Seq[Workload] = Seq(ChainWeb, ChainDupHeavy, QueryPanel, IncrDupHeavy)

  // ---- metric output -----------------------------------------------------------

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  /** Every per-layer metric with its unit, in report order. */
  def perLayerUnits: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.exec_cpu_s" -> "s",
      s"$l.gc_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.shuffle_write_mb" -> "MiB", s"$l.spill_mb" -> "MiB",
      s"$l.peak_exec_mem_mb" -> "MiB", s"$l.rows_out" -> "rows")) ++
      Seq("orchestrator.self_s" -> "s", "orchestrator.write_mb" -> "MiB",
        "dedup.near_yield" -> "ratio", "dedup.task_skew" -> "ratio",
        "spark.failed_tasks" -> "count", "trace.overhead_frac" -> "ratio") ++
      Panel.flatMap(q => Seq(s"query.$q.wall_s" -> "s",
        s"query.$q.exec_cpu_s" -> "s", s"query.$q.shuffle_write_mb" -> "MiB")) ++
      Kernels.map(k => s"kernel.$k.exec_cpu_s" -> "s")

  // ---- main ------------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dirs = Dirs(opts("work"))

    val g0 = System.nanoTime()
    w.generate(seed, dirs)
    log(f"generated ${w.name} seed $seed in ${(System.nanoTime() - g0) / 1e9}%.1f s")

    // set-up: session start + warm-up, several times; then any base state
    var spark: SparkSession = null
    val setups = (1 to (if (trace) 1 else SetupReps)).map { rep =>
      if (rep > 1) spark.stop()
      val s0 = System.nanoTime()
      spark = session(dirs.work, w.input(dirs))
      w.warmUp(spark, dirs)
      (System.nanoTime() - s0) / 1e9
    }
    val b0 = System.nanoTime()
    w.base(spark, dirs)
    val baseS = (System.nanoTime() - b0) / 1e9
    val setupS = median(setups) + baseS
    log(f"setup_s $setupS%.2f: session + warm-up " +
      setups.map(x => f"$x%.2f").mkString(" ") + f", base $baseS%.2f")
    val docs = docCount(spark, w.input(dirs))

    // the traced replay comes first, so the untraced run after it is at
    // least as warm and trace.overhead_frac does not flatter the tracing
    val out = mutable.LinkedHashMap.empty[String, Double]
    val (traceProblems, tracedRoot) =
      if (trace) traceRun(w, spark, dirs, seed, out) else (Nil, None)
    traceProblems.foreach(p => log(s"FAIL traced: $p"))

    // timed steps, each checked after its clock stops
    val samples = mutable.ArrayBuffer.empty[Sample]
    var attempted = 0
    var failed = 0
    var steps = 0
    val m0 = System.nanoTime()
    while (steps == 0 || (System.nanoTime() - m0) / 1e9 < seconds) {
      val st = try w.step(spark, dirs, steps)
        catch { case e: Exception => Step(None, 1, Seq(s"step threw: $e")) }
      steps += 1
      attempted += st.attempted
      failed += st.problems.size.min(st.attempted)
      st.problems.foreach(p => log(s"FAIL step $steps: $p"))
      st.sample.foreach { s =>
        samples += s
        log(f"step $steps wall ${s.wallS}%.3f s cpu ${s.cpuS}%.2f s rss ${s.rssMb}%.0f MiB")
      }
    }
    // the full checks, once per invocation; a failure voids the last step
    val finalProblems = try w.finalCheck(spark, dirs)
      catch { case e: Exception => Seq(s"final check threw: $e") }
    if (finalProblems.nonEmpty) {
      finalProblems.foreach(p => log(s"FAIL final check: $p"))
      failed += 1
      if (samples.nonEmpty) samples.remove(samples.length - 1)
    }
    val wall = median(samples.map(_.wallS).toSeq)

    if (!trace) {
      val metrics = Seq(
        ("wall_s", wall, "s"),
        ("docs_per_s", docs / wall, "docs/s"),
        ("cpu_s", median(samples.map(_.cpuS).toSeq), "s"),
        ("peak_rss_mb", median(samples.map(_.rssMb).toSeq), "MiB"),
        ("setup_s", setupS, "s"),
        ("bytes_written_per_doc", median(samples.map(_.bytesWritten.toDouble).toSeq) / docs,
          "B/doc"))
      val extra = Seq(("failed_frac", failed.toDouble / attempted, "ratio"))
      // every end-to-end metric, for people; the last line carries the
      // ones BENCHMARK.json declares
      println(s"E2E ${w.name} " + (metrics ++ extra).map { case (k, v, u) =>
        s"$k=${num(v)} $u" }.mkString(" "))
      println(result(failed == 0 && samples.nonEmpty, attempted, failed, metrics))
    } else {
      tracedRoot.foreach(r => out("trace.overhead_frac") = r / wall - 1.0)
      println(result(failed == 0 && traceProblems.isEmpty && samples.nonEmpty,
        attempted + 1, failed + (if (traceProblems.isEmpty) 0 else 1),
        perLayerUnits.map { case (k, u) => (k, out.getOrElse(k, 0.0), u) }))
    }
    spark.stop()
  }

  /** The traced replay with the collector installed. Fills `out` with the
    * per-layer metrics (a layer the workload does not run reads 0);
    * returns the problems found and the root span's seconds.
    */
  def traceRun(w: Workload, spark: SparkSession, dirs: Dirs, seed: Long,
               out: mutable.Map[String, Double]): (Seq[String], Option[Double]) = {
    val coll = Collector.install(spark)
    val tr = new Tracer(spark, s"${w.name}-$seed")
    val problems = mutable.ArrayBuffer.empty[String]
    try problems ++= w.traced(spark, dirs, tr, out)
    catch { case e: Exception => problems += s"traced run threw: $e" }
    Collector.drain(spark.sparkContext)

    // the stage spans must tile the root: inside it and not overlapping
    tr.get(w.root) match {
      case None => problems += "no root span"
      case Some(r) =>
        val stages = tr.spans.filter(_.parent == r.name).sortBy(_.startNs)
        if (stages.zip(stages.drop(1)).exists { case (a, b) => b.startNs < a.endNs })
          problems += "stage spans overlap"
        if (stages.exists(c => c.startNs < r.startNs || c.endNs > r.endNs))
          problems += "a stage span lies outside the root span"
        val self = r.seconds - stages.map(_.seconds).sum
        if (self < 0) problems += f"stage spans exceed the root span by ${-self}%.3f s"
        if (w.chain) out("orchestrator.self_s") = self
    }
    for (l <- Layers; s <- tr.get(l)) {
      val c = coll.of(l)
      out(s"$l.wall_s") = s.seconds
      out(s"$l.exec_cpu_s") = c.cpuNs / 1e9
      out(s"$l.gc_s") = c.gcMs / 1e3
      out(s"$l.jobs") = c.jobs.toDouble
      out(s"$l.tasks") = c.tasks.toDouble
      out(s"$l.shuffle_write_mb") = c.shuffleWriteBytes / 1048576.0
      out(s"$l.spill_mb") = c.spillBytes / 1048576.0
      out(s"$l.peak_exec_mem_mb") = c.peakExecMem / 1048576.0
      out(s"$l.rows_out") = c.rowsOut.toDouble
    }
    if (tr.get("dedup").nonEmpty) out("dedup.task_skew") = coll.of("dedup").taskSkew
    out("spark.failed_tasks") = coll.failedTasks.toDouble
    for (q <- Panel; s <- tr.get(s"query.$q")) {
      val c = coll.of(s"query.$q")
      out(s"query.$q.wall_s") = s.seconds
      out(s"query.$q.exec_cpu_s") = c.cpuNs / 1e9
      out(s"query.$q.shuffle_write_mb") = c.shuffleWriteBytes / 1048576.0
    }
    for (k <- Kernels; _ <- tr.get(s"kernel.$k"))
      out(s"kernel.$k.exec_cpu_s") = coll.of(s"kernel.$k").cpuNs / 1e9
    tr.spans.foreach(s => log(f"span ${s.name}%-32s ${s.seconds}%8.3f s (in '${s.parent}')"))
    tr.write(s"${dirs.work}/spans.jsonl")
    (problems.toSeq, tr.get(w.root).map(_.seconds))
  }
}
