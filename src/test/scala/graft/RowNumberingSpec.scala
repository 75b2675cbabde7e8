package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Shard

/** The InternalRow partition-offset numbering behind `ingest_seq`,
  * `global_seq` and the packing offsets: parity with a global
  * `row_number()` window, partition-order density, and byte-for-byte
  * round-trips of nested columns.
  */
class RowNumberingSpec extends SparkTestBase {

  private val nestedSchema = StructType(Seq(
    StructField("a", IntegerType),
    StructField("b", LongType),
    StructField("arr", ArrayType(IntegerType, containsNull = true)),
    StructField("st", StructType(Seq(
      StructField("x", IntegerType), StructField("s", StringType)))),
    StructField("m", MapType(StringType, DoubleType, valueContainsNull = true)),
    StructField("txt", StringType)))

  /** `n` rows keyed by a unique (a, b): `a` has three values, so each tie
    * group spans many range partitions; every nested column has nulls.
    */
  private def nested(n: Int, parts: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      Row(i % 3, (i * 7919L) % 100003L,
        if (i % 5 == 0) null else Seq[Any](i, null, -i),
        if (i % 6 == 0) null else Row(if (i % 4 == 0) null else i, s"s$i"),
        if (i % 7 == 0) null else Map("k" -> i.toDouble, "z" -> null),
        if (i % 11 == 0) null else "t" * (i % 13))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), nestedSchema)
  }

  private def byWindow(df: DataFrame, seq: String): Seq[Row] =
    df.withColumn(seq, row_number().over(Window.orderBy("a", "b")) - 1L)
      .orderBy(seq).collect().toSeq

  test("withGlobalSeq equals row_number() - 1 over a global window, ties " +
    "across range partitions, nested columns unchanged") {
    val df = nested(3000, 8)
    // the premise: range partitioning on (a, b) into the input's 8
    // partitions splits every `a` tie group across partitions
    val spread = df.repartitionByRange(8, col("a"), col("b"))
      .withColumn("p", spark_partition_id())
      .groupBy("a").agg(countDistinct("p"))
      .collect().map(_.getLong(1))
    assert(spread.forall(_ > 1), spread.toSeq)
    val got = Shard.withGlobalSeq(df, Seq("a", "b"), "seq").orderBy("seq").collect().toSeq
    assert(got === byWindow(df, "seq"))
    assert(got.map(_.getLong(6)) === (0L until 3000L))
  }

  test("withGlobalSeq over fewer rows than partitions (empty input " +
    "partitions) is still dense and ordered") {
    val df = nested(5, 8)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) > 0)
    val got = Shard.withGlobalSeq(df, Seq("a", "b"), "seq").orderBy("seq").collect().toSeq
    assert(got === byWindow(df, "seq"))
  }

  test("withRunningSum: dense from 0 in partition order across empty " +
    "partitions; a value column gives the exclusive running total") {
    import spark.implicits._
    // partitions [] [0,1,2] [] [3] []: empty first, middle and last
    val rdd = spark.sparkContext.parallelize(Seq.empty[Int], 5)
      .mapPartitionsWithIndex { (p, _) =>
        p match {
          case 1 => Iterator(0, 1, 2)
          case 3 => Iterator(3)
          case _ => Iterator.empty
        }
      }
    val df = rdd.map(i => (i, (i + 1) * 10)).toDF("pos", "v")
    val seq = GraftSqlBridge.withRunningSum(df, "seq")
      .select("pos", "seq").as[(Int, Long)].collect().toSeq
    assert(seq === Seq((0, 0L), (1, 1L), (2, 2L), (3, 3L)))
    val run = GraftSqlBridge.withRunningSum(df, "off", Some("v"))
      .select("pos", "off").as[(Int, Long)].collect().toSeq
    assert(run === Seq((0, 0L), (1, 10L), (2, 30L), (3, 60L)))
    val out = GraftSqlBridge.withRunningSum(df, "seq").schema.last
    assert(out === StructField("seq", LongType, nullable = false))
  }

  test("ingest_seq is dense 0..n-1 in file-scan order on a multi-file input") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ingest-seq").toString
    (0 until 400).map(i => (s"https://x/$i", if (i % 9 == 0) null else s"doc $i " * (i % 17)))
      .toDF("url", "text").repartition(6).write.mode("overwrite").parquet(dir)
    val conf = Seq("spark.sql.files.maxPartitionBytes" -> "2048",
      "spark.sql.files.openCostInBytes" -> "1024")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val raw = spark.read.parquet(dir)
      assert(raw.rdd.getNumPartitions > 1)
      assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) > 1)
      // monotonically_increasing_id encodes (partition, position): its
      // order IS the scan's partition order
      val seqs = Pipeline.ingest(raw.withColumn("scan_pos", monotonically_increasing_id()))
        .orderBy("scan_pos").select("ingest_seq").as[Long].collect().toSeq
      assert(seqs === (0L until 400L))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
