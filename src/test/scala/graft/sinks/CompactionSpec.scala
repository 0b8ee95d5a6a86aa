package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[graft.sinks.Compaction]] — the q214 maintenance op. The
  * crash/concurrency/audit semantics belong to AtomicPublishSpec;
  * this spec pins what compaction adds: file-count reduction to the
  * target, content identity through the rewrite, repeated-compaction
  * generation hygiene (vacuum keeps published + predecessor), and
  * the loud failure when nothing is published to compact.
  */
class CompactionSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.spark

  private def freshDir(): String =
    tempDir("graft-compact-spec").toString

  test("compaction hits the target file count and preserves content") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    val data = (0 until 500).map(i => (i.toLong, s"v$i", i % 7))
      .toDF("id", "v", "g")
    AtomicPublish.publish(data.repartition(32), src)
    assert(Compaction.publishedFileCount(src) == 32)

    val stats = Compaction.compactPublished(spark, src, dst,
      targetFiles = 4)
    assert(stats.rows == 500)
    assert(stats.filesBefore == 32 && stats.filesAfter == 4)
    assert(Compaction.publishedFileCount(dst) == 4)
    val back = AtomicPublish.readPublished(spark, dst)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == (0 until 500).map(i => (i.toLong, s"v$i")))
  }

  test("repeated compaction stays bounded: vacuum keeps published " +
      "and predecessor only, content stable") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    val data = (0 until 100).map(i => (i.toLong, i * 3)).toDF("id", "x")
    AtomicPublish.publish(data.repartition(16), src)
    for (_ <- 1 to 4)
      Compaction.compactPublished(spark, src, dst, targetFiles = 2)
    val gens = new java.io.File(dst).listFiles()
      .map(_.getName).filter(_.startsWith("gen=")).sorted
    assert(gens.length == 2, s"expected 2 live generations, got " +
      gens.mkString(", "))
    assert(AtomicPublish.readPublished(spark, dst).count() == 100)
    assert(Compaction.publishedFileCount(dst) == 2)
  }

  test("same-table compaction (src == dst) reports the " +
      "PRE-compaction file count, not the post-publish one") {
    import spark.implicits._
    val dir = freshDir()
    AtomicPublish.publish(
      (0 until 200).map(i => (i.toLong, i * 2)).toDF("id", "x")
        .repartition(16), dir)
    assert(Compaction.publishedFileCount(dir) == 16)
    val stats = Compaction.compactPublished(spark, dir, dir,
      targetFiles = 2)
    assert(stats.rows == 200)
    assert(stats.filesBefore == 16,
      s"filesBefore=${stats.filesBefore}: must be captured before the " +
        "manifest flip")
    assert(stats.filesAfter == 2)
    assert(Compaction.publishedFileCount(dir) == 2)
    assert(AtomicPublish.readPublished(spark, dir).count() == 200)
  }

  test("compacting an unpublished table fails loudly") {
    val e = intercept[IllegalStateException] {
      Compaction.compactPublished(spark, freshDir(), freshDir(), 2)
    }
    assert(e.getMessage.contains("no published generation"))
  }

  test("a published generation with empty partitions still counts " +
      "only real part-files") {
    import spark.implicits._
    val src = freshDir()
    // 3 rows into 8 partitions: round-robin leaves 5 empty; parquet
    // still writes 8 task files, but content survives compaction
    AtomicPublish.publish(
      (0 until 3).map(i => (i, s"r$i")).toDF("id", "v").repartition(8), src)
    val dst = freshDir()
    val stats = Compaction.compactPublished(spark, src, dst, 1)
    assert(stats.rows == 3 && stats.filesAfter == 1)
    assert(AtomicPublish.readPublished(spark, dst).count() == 3)
  }
}
