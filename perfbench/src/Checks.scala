package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Orchestrator.{droppedPath, versionPath}

/** Output checks, run after an operation's clock stops. Each returns the
  * list of violations found (empty when the output is correct).
  */
object Checks {

  type Problems = Seq[String]

  private val StageRe =
    """\{"stage": "([^"]+)", "kept": (-?\d+), "dropped": (-?\d+)\}""".r

  /** (stage, kept, dropped) rows of `run_summary.json`. */
  def summary(outDir: String): Seq[(String, Long, Long)] = {
    val s = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/run_summary.json"))
    StageRe.findAllMatchIn(s).map(m =>
      (m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
  }

  /** Each stage's kept + dropped equals the previous stage's kept; the
    * first stage's input is `inputRows`.
    */
  def countChain(sum: Seq[(String, Long, Long)], inputRows: Long): Problems = {
    val out = mutable.ArrayBuffer.empty[String]
    var prev = inputRows
    sum.foreach { case (stage, kept, dropped) =>
      if (dropped >= 0 && kept + dropped != prev)
        out += s"$stage: kept $kept + dropped $dropped != previous kept $prev"
      prev = kept
    }
    out.toSeq
  }

  /** v7: global_seq dense from 0, shard_id = global_seq / 50000, doc_id
    * unique.
    */
  def v7(spark: SparkSession, outDir: String): Problems = {
    val r = spark.read.parquet(versionPath(outDir, 7))
      .agg(count(lit(1)), min("global_seq"), max("global_seq"),
        countDistinct("global_seq"), countDistinct("doc_id"),
        sum(when(col("shard_id") =!= (col("global_seq") / graft.ops.Shard.DocsPerShard)
          .cast("long"), 1).otherwise(0)))
      .head()
    val n = r.getLong(0)
    val out = mutable.ArrayBuffer.empty[String]
    if (n == 0) out += "v7 is empty"
    else {
      if (r.getLong(1) != 0 || r.getLong(2) != n - 1 || r.getLong(3) != n)
        out += s"v7 global_seq not dense from 0: n=$n min=${r.get(1)} max=${r.get(2)} distinct=${r.get(3)}"
      if (r.getLong(4) != n) out += s"v7 doc_id not unique: ${r.get(4)} distinct of $n"
      if (r.getLong(5) != 0) out += s"v7 shard_id != global_seq / 50000 on ${r.get(5)} rows"
    }
    out.toSeq
  }

  private def genId(url: org.apache.spark.sql.Column) =
    regexp_extract(url, "/doc/(\\d+)$", 1).cast("long")

  /** Planted labels against the run's outputs.
    *
    * A full run writes dropped files for v2 and v3; the incremental run
    * (`fullRun = false`) starts at v3 and never sees junk documents, so
    * they must be absent. Every document must end in exactly one place:
    * dropped at some stage or kept in v7. A junk document must be dropped
    * at the first stage with its planted reason; every other document
    * must reach dedup, where in each exact group exactly one member (one
    * with the group's smallest ingest_seq) survives and the rest point
    * at it through dup_of, and likewise for near groups among the exact
    * survivors. PII documents must be flagged and their planted address
    * masked; no other document may be flagged.
    */
  def labels(spark: SparkSession, outDir: String, truth: DataFrame,
             fullRun: Boolean): Problems = {
    import spark.implicits._
    val out = mutable.ArrayBuffer.empty[String]
    val firstStage = if (fullRun) 2 else 3
    val dropStages = (if (fullRun) Seq(2, 3) else Nil) ++ Seq(4, 5, 6)
    val dropped = dropStages.map { v =>
      spark.read.parquet(droppedPath(outDir, v))
        .select(col("url"), lit(v).as("stage"), col("drop_reason"),
          (if (v >= 4) col("dup_of") else lit(null).cast("string")).as("dup_of"),
          lit(null).cast("long").as("seq"),
          lit(null).cast("string").as("doc_id"))
    }
    // ingest_seq/doc_id as the dedup stage saw them: from v3 (carried
    // rows keep their original ingest_seq in the incremental run)
    val v3 = spark.read.parquet(versionPath(outDir, 3))
      .select(col("url"), col("ingest_seq").as("s3"), col("doc_id").as("d3"))
    val v7 = spark.read.parquet(versionPath(outDir, 7))
      .select(col("url"), lit(7).as("stage"), lit(null).cast("string").as("drop_reason"),
        lit(null).cast("string").as("dup_of"), lit(null).cast("long").as("seq"),
        lit(null).cast("string").as("doc_id"))
    val outcomes = (dropped :+ v7).reduce(_ unionByName _)
      .join(v3, Seq("url"), "left")
      .withColumn("gen_id", genId(col("url")))
    val rows = truth.join(outcomes, Seq("gen_id"), "full_outer")
      .select($"gen_id", $"kind", $"expect_reason", $"exact_key", $"near_key",
        $"stage", $"drop_reason", $"dup_of", $"s3", $"d3")
      .as[(Option[Long], Option[String], Option[String], Option[Long],
        Option[Long], Option[Int], Option[String], Option[String],
        Option[Long], Option[String])]
      .collect()
    val seen = mutable.Map.empty[Long, Int]
    rows.foreach { case (g, kind, exp, _, _, stage, reason, _, _, _) =>
      g.foreach(id => seen(id) = seen.getOrElse(id, 0) + 1)
      (kind, stage) match {
        case (None, _) => out += s"output row for unknown gen_id $g"
        case (Some(k), None) =>
          if (exp.isEmpty || fullRun)
            out += s"doc $g ($k) missing from every output"
        case (Some(k), Some(st)) => exp match {
          case Some(e) =>
            if (!fullRun) out += s"junk doc $g ($k) reached v3"
            else if (st != firstStage || !reason.contains(e))
              out += s"doc $g ($k) expected $e at v$firstStage, got $reason at v$st"
          case None =>
            if (st != 4 && st != 7)
              out += s"doc $g ($k) unexpectedly dropped at v$st: $reason"
            else if (st == 4 && !reason.exists(r => r == "exact_duplicate" || r == "near_duplicate"))
              out += s"doc $g ($k) dropped by dedup as $reason"
        }
      }
    }
    seen.foreach { case (g, n) => if (n > 1) out += s"doc $g appears $n times" }
    // dedup groups over the documents that reached dedup
    case class M(g: Long, exact: Long, near: Long, reason: Option[String],
                 dupOf: Option[String], seq: Long, docId: String)
    val members = rows.collect {
      case (Some(g), Some(_), None, Some(ek), Some(nk), Some(st), reason, dupOf,
            Some(seq), Some(d)) if st == 4 || st == 7 =>
        M(g, ek, nk, reason, dupOf, seq, d)
    }
    def groupRule(ms: Seq[M], key: M => Long, dupReason: String): Seq[M] =
      ms.groupBy(key).values.toSeq.flatMap { g =>
        val (dups, surv) = g.partition(_.reason.contains(dupReason))
        val minSeq = g.map(_.seq).min
        if (surv.size != 1)
          out += s"$dupReason group of ${g.head.g} has ${surv.size} survivors"
        else {
          val s = surv.head
          if (s.seq != minSeq)
            out += s"$dupReason group of ${s.g}: survivor seq ${s.seq} != min $minSeq"
          dups.filterNot(_.dupOf.contains(s.docId)).take(3).foreach(d =>
            out += s"doc ${d.g}: dup_of ${d.dupOf} != ${s.docId}")
        }
        surv
      }
    val exactSurvivors = groupRule(members.toSeq, _.exact, "exact_duplicate")
    groupRule(exactSurvivors, _.near, "near_duplicate")
    // PII flags and masking on every v3 row
    val pii = spark.read.parquet(versionPath(outDir, 3))
      .withColumn("gen_id", genId(col("url")))
      .join(truth, Seq("gen_id"))
      .filter(col("has_pii") =!= col("pii_token").isNotNull ||
        (col("pii_token").isNotNull &&
          col("text_pii_masked").contains(col("pii_token"))))
      .count()
    if (pii > 0) out += s"$pii v3 rows with a wrong has_pii flag or unmasked address"
    out.take(20).toSeq
  }

  /** Incremental v3 equals a from-scratch stage 2-3 run over the current
    * v1, row for row, on doc_id and every row-local column (all but the
    * ingest sequence and timestamp, which carried rows keep from the base
    * run).
    */
  def incrementalV3(spark: SparkSession, outDir: String): Problems = {
    val v3 = spark.read.parquet(versionPath(outDir, 3))
    val scratch = graft.ops.Filters.kept(graft.Pipeline.deepCleanAndPii(
      graft.ops.Filters.kept(graft.Pipeline.cleanAndFilter(
        spark.read.parquet(versionPath(outDir, 1))))))
    val cols = v3.columns.filterNot(Set("ingest_seq", "ingest_ts")).map(col)
    val a = v3.select(cols: _*)
    val b = scratch.select(cols: _*)
    val onlyInc = a.exceptAll(b).count()
    val onlyScratch = b.exceptAll(a).count()
    if (onlyInc + onlyScratch == 0) Nil
    else Seq(s"incremental v3 differs from a from-scratch run: $onlyInc rows " +
      s"only incremental, $onlyScratch only from scratch")
  }
}
