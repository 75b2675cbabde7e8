package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: the generator against the engine's stage-2
  * rules, the collector's attribution, and the query panel on generated
  * inputs (the launcher then compares the dumped results with each
  * query's DuckDB oracle SQL). Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero on a failure.
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private var ran = 0

  private def test(name: String)(body: => Unit): Unit = {
    ran += 1
    val t0 = System.nanoTime()
    try { body; println(f"PASS $name (${(System.nanoTime() - t0) / 1e9}%.1f s)") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL $name: $e")
    }
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** Generated documents meet stage 2 as planted: every English document
    * passes, every junk document gets its reason, and the kept share is
    * the intended 1 - junkFrac.
    */
  private def stage2Rates(spark: SparkSession, spec: CorpusSpec): Unit = {
    import spark.implicits._
    val docs = (0 until spec.files).flatMap(f => Gen.genFile(11, spec, f))
    val df = docs.map(d => (s"https://${d.source}/doc/${d.docId}", d.text,
      d.docId, d.expectReason)).toDF("url", "text", "gen_id", "expect")
    val got = graft.Pipeline.cleanAndFilter(df)
      .select($"gen_id", $"expect", $"drop_reason").as[(Long, String, String)]
      .collect()
    val wrong = got.filter { case (_, e, r) => e != r }
    check(wrong.isEmpty, s"${wrong.length} docs off plan, e.g. " +
      wrong.take(5).mkString(", "))
    val kept = got.count(_._3 == null).toDouble / got.length
    check(math.abs(kept - (1 - spec.junkFrac)) < 0.03,
      f"kept share $kept%.3f, intended ${1 - spec.junkFrac}%.3f")
    val english = docs.count(d => d.lang == "en" && d.expectReason == null)
    check(english.toDouble / docs.length > 0.85,
      s"only $english of ${docs.length} docs are passing English")
  }

  def main(args: Array[String]): Unit = {
    val work = args(args.indexOf("--work") + 1)
    val spark = Main.session(work, work)
    val dirs = Main.Dirs(work)

    test("generated web docs meet stage 2 at the planted rates") {
      stage2Rates(spark, Main.Web)
    }
    test("generated dup-heavy docs meet stage 2 at the planted rates") {
      stage2Rates(spark, Main.DupHeavy)
    }

    Gen.writePanelTables(5, dirs.in("t"), 200, 20000)
    Main.genCorpus(5, Main.Web.copy(docs = 400, files = 2), dirs.in("t"),
      dirs.truth("t"))
    val coll = Collector.install(spark)
    val tr = new Tracer(spark, "selftest")
    def q1(): Unit = graft.SparkEntry.queries("q1_pricing_summary")(spark, dirs.in("t"))
      .write.mode("overwrite").format("noop").save()
    def kernel(): Unit = graft.Tables.documents(spark, dirs.in("t"))
      .select(graft.text.Tokenize.native(col("text")))
      .write.mode("overwrite").format("noop").save()
    tr.span("q1a")(q1())
    tr.span("kernel")(kernel())
    tr.span("q1b")(q1())
    Collector.drain(spark.sparkContext)

    test("q1_pricing_summary has exactly one exchange with shuffle bytes") {
      val c = coll.of("q1a")
      check(c.exchangesWithBytes == 1,
        s"${c.exchangesWithBytes} stages wrote shuffle bytes: ${c.stageShuffleWrite}")
    }
    test("a shuffle-free kernel select writes no shuffle bytes") {
      val c = coll.of("kernel")
      check(c.tasks > 0, "the kernel span ran no task")
      check(c.shuffleWriteBytes == 0, s"${c.shuffleWriteBytes} shuffle bytes")
    }
    test("back-to-back spans do not leak counters") {
      val (a, b) = (coll.of("q1a"), coll.of("q1b"))
      check(a.jobs == b.jobs && a.tasks == b.tasks,
        s"q1 twice: jobs ${a.jobs}/${b.jobs}, tasks ${a.tasks}/${b.tasks}")
      check(a.shuffleWriteBytes == b.shuffleWriteBytes,
        s"q1 twice: shuffle ${a.shuffleWriteBytes}/${b.shuffleWriteBytes}")
      check(a.rowsOut == 0 && coll.of("kernel").jobs >= 1, "attribution mixed up")
    }
    test("spans nest and record their parent") {
      tr.span("outer")(tr.span("inner")(()))
      check(tr.get("inner").exists(_.parent == "outer") &&
        tr.get("outer").exists(_.parent == ""), s"${tr.spans}")
    }
    test("every panel query runs on generated inputs (results dumped for the oracle)") {
      Main.genPanel(9, Main.QueryPanel.input(dirs), dirs.truth("panel"), 8)
      val p = Main.QueryPanel.finalCheck(spark, dirs)
      check(p.isEmpty, p.mkString("; "))
    }
    spark.stop()
    println(s"${ran - failures.size} passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
