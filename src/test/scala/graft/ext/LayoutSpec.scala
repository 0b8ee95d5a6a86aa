package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class LayoutSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("morton interleaves bits: known codes, monotone on aligned squares") {
    val got = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (0, 2), (3, 3),
        (65535, 0), (0, 65535))
      .toDF("a", "b")
      .select(col("a"), col("b"), Layout.morton(col("a"), col("b"), 16).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0, 0)) == 0L)
    assert(got((1, 0)) == 1L)      // a bit 0 -> z bit 0
    assert(got((0, 1)) == 2L)      // b bit 0 -> z bit 1
    assert(got((1, 1)) == 3L)
    assert(got((2, 0)) == 4L)      // a bit 1 -> z bit 2
    assert(got((0, 2)) == 8L)      // b bit 1 -> z bit 3
    assert(got((3, 3)) == 15L)
    assert(got((65535, 0)) == 0x55555555L)
    assert(got((0, 65535)) == 0xAAAAAAAAL)
  }

  test("zorder clustering: per-partition bounding boxes are tight") {
    // a full 128x128 grid; 16 z-range partitions. Perfect z-ordering
    // partitions an aligned power-of-4 grid into aligned sub-squares:
    // 16384 cells / 16 = 1024 cells = one 32x32 square each (area
    // 1/16 of the global extent). Allow straddle slack: the average
    // per-partition bounding-box area must still be < 2/16 of global.
    val n = 128
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).cast("int").as("a"),
        (col("id") / n).cast("int").as("b"))
    val laid = Layout.zorder(grid, col("a"), col("b"), bits = 7,
      partitions = 16)
    val boxes = laid
      .groupBy(spark_partition_id().as("p"))
      .agg(((max(col("a")) - min(col("a")) + 1) *
            (max(col("b")) - min(col("b")) + 1)).as("area"),
        count(lit(1)).as("rows"))
      .collect()
    assert(boxes.map(_.getAs[Long]("rows")).sum == n.toLong * n)
    val avgArea = boxes.map(_.getAs[Int]("area").toDouble).sum / boxes.length
    val globalArea = n.toDouble * n
    assert(avgArea < globalArea * 2 / 16,
      s"z-order boxes too loose: avg $avgArea of $globalArea")
    // contrast: the same 16 partitions range-partitioned on `a` alone
    // leave the `b` extent global in every partition (area ~ 1/16 * n
    // in a, full n in b) -> no pruning on b. Sanity-check the claim:
    val rangeOnA = grid.repartitionByRange(16, col("a"))
      .groupBy(spark_partition_id().as("p"))
      .agg(((max(col("a")) - min(col("a")) + 1) *
            (max(col("b")) - min(col("b")) + 1)).as("area"))
      .collect().map(_.getAs[Int]("area").toDouble)
    assert(rangeOnA.min >= n.toDouble, "range-on-a should keep b global")
  }

  test("zorder write: parquet stats skip data on BOTH predicate columns") {
    // the property the operator exists for, measured end-to-end: after a
    // zordered write, a small (a, b) rectangle predicate reads only the
    // row groups whose footer min/max intersect it — on EITHER column —
    // while a hash-shuffled layout of the same data reads everything.
    // File pruning by footer stats doesn't exist in Spark (only
    // partition pruning); the skip shows up as rows EMITTED by the scan
    // (row groups surviving the pushed filter), so that is the metric.
    val n = 128
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).cast("int").as("a"),
        (col("id") / n).cast("int").as("b"))
    val base = tempDir("graft-zorder-skip").toString
    Layout.zorder(grid, col("a"), col("b"), bits = 7, partitions = 16)
      .drop("__z").write.mode("overwrite").parquet(s"$base/z")
    grid.repartition(16).write.mode("overwrite").parquet(s"$base/shuf")
    def scanned(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir)
        .filter(col("a").between(40, 47) && col("b").between(80, 87))
      val rows = df.count()
      (rows, scanOutputRows(df))
    }
    val (zRows, zScanned) = scanned(s"$base/z")
    val (sRows, sScanned) = scanned(s"$base/shuf")
    assert(zRows == 64 && sRows == 64, "both layouts must return 8x8 rows")
    assert(sScanned >= n.toLong * n,
      s"shuffled layout unexpectedly skipped data: $sScanned")
    assert(zScanned * 4 <= sScanned,
      s"zorder layout did not skip row groups: $zScanned vs $sScanned")
  }

  /** Rows emitted by the query's parquet scans (post row-group skip). */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  test("morton rejects out-of-contract bit widths") {
    intercept[IllegalArgumentException] {
      Layout.morton(col("a"), col("b"), 0)
    }
    intercept[IllegalArgumentException] {
      Layout.morton(col("a"), col("b"), 32)
    }
  }

  test("fileMinMax matches a driver-side global-sort reference") {
    import spark.implicits._
    val rows = Seq.tabulate(1000)(i => ((i * 37) % 256, i))
    val df = rows.toDF("k", "i").repartition(7)
    val got = Layout.fileMinMax(df, col("k"), Seq(col("i")), col("k"),
        100L, Seq("k" -> col("k"), "i" -> col("i")))
      .orderBy(col("file_id")).collect()
      .map(r => (r.getAs[Long]("file_id"), r.getAs[Long]("n_rows"),
        r.getAs[Int]("min_k"), r.getAs[Int]("max_k"),
        r.getAs[Int]("min_i"), r.getAs[Int]("max_i")))
    val ref = rows.sortBy { case (k, i) => (k, i) }
      .grouped(100).zipWithIndex.map { case (chunk, f) =>
        (f.toLong, chunk.size.toLong,
          chunk.map(_._1).min, chunk.map(_._1).max,
          chunk.map(_._2).min, chunk.map(_._2).max)
      }.toSeq
    assert(got.toSeq == ref)
  }

  test("fileMinMax: coarse monotone bucket gives the same cut") {
    import spark.implicits._
    val rows = Seq.tabulate(500)(i => ((i * 31) % 512, i))
    val df = rows.toDF("k", "i")
    def run(bucket: org.apache.spark.sql.Column) =
      Layout.fileMinMax(df, col("k"), Seq(col("i")), bucket, 64L,
        Seq("k" -> col("k"))).orderBy(col("file_id")).collect()
        .map(_.toString).toSeq
    assert(run(col("k")) == run(shiftrightunsigned(col("k"), 4)))
  }

  test("probeHitStats: hand case") {
    import spark.implicits._
    val files = Seq((0L, 0, 10), (1L, 20, 30)).toDF("file_id", "lo", "hi")
    val probes = Seq(5, 15, 25).toDF("probe")
    val r = Layout.probeHitStats(files, probes, "lo", "hi", "probe")
      .collect().head
    assert(r.getAs[Long]("n_files") == 2 && r.getAs[Long]("n_probes") == 3)
    assert(r.getAs[Long]("files_hit") == 2)
    assert(r.getAs[Double]("scan_fraction") == 2.0 / 6.0)
  }

  test("probeHitStatsMulti equals per-key probeHitStats") {
    import spark.implicits._
    val files = Seq((0L, 0, 10, 50, 60), (1L, 20, 30, 0, 90))
      .toDF("file_id", "min_a", "max_a", "min_b", "max_b")
    val probes = Seq(5, 15, 25, 55).toDF("probe")
    val multi = Layout.probeHitStatsMulti(files, probes, Seq("a", "b"),
        "probe").orderBy(col("probe_key")).collect()
      .map(r => (r.getAs[String]("probe_key"), r.getAs[Long]("files_hit"),
        r.getAs[Double]("scan_fraction")))
    val single = Seq("a", "b").map { k =>
      val r = Layout.probeHitStats(files, probes, s"min_$k", s"max_$k",
        "probe").collect().head
      (k, r.getAs[Long]("files_hit"), r.getAs[Double]("scan_fraction"))
    }
    assert(multi.toSeq == single)
  }

  test("z-order layout prunes the second key where single-key cannot") {
    import spark.implicits._
    // dense 64x64 grid — bykey clusters a perfectly, leaves b unclustered
    val rows = for (a <- 0 until 64; b <- 0 until 64) yield (a, b)
    val df = rows.toDF("a", "b")
    val tie = Seq(col("b"), col("a"))
    val byKey = Layout.fileMinMax(df, col("a"), tie, col("a"), 256L,
      Seq("a" -> col("a"), "b" -> col("b")))
    val z = Layout.morton(col("a"), col("b"), 6)
    val byZ = Layout.fileMinMax(df.withColumn("zc", z), col("zc"), tie,
      shiftrightunsigned(col("zc"), 6), 256L,
      Seq("a" -> col("a"), "b" -> col("b")))
    val probes = Seq.tabulate(16)(i => i * 4).toDF("probe")
    def frac(files: org.apache.spark.sql.DataFrame, key: String) =
      Layout.probeHitStats(files, probes, s"min_$key", s"max_$key", "probe")
        .collect().head.getAs[Double]("scan_fraction")
    // single-key layout: perfect on a, useless on b (every file spans b)
    assert(frac(byKey, "a") < 0.2)
    assert(frac(byKey, "b") == 1.0)
    // z-order: bounded rectangles — materially better than 1.0 on BOTH
    assert(frac(byZ, "a") < 0.5 && frac(byZ, "b") < 0.5)
  }
}
