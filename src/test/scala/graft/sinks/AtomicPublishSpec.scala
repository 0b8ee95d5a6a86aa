package graft.sinks

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Profile

/** The write-audit-publish proofs (VERDICT r13 item 1): the five
  * properties the sink's scaladoc claims, each exercised against the
  * real filesystem —
  *
  *  (a) a concurrent reader resolving during flips sees old-or-new,
  *      never a mix of two generations;
  *  (b) a crash between stage/claim and flip leaves the old view
  *      published, and the next publish numbers past the orphan;
  *  (c) a failed audit never publishes (pointer and readers untouched);
  *  (d) vacuum never deletes the published generation or its
  *      predecessor;
  *  (e) readPublished pins ONE generation for the whole query — a
  *      publish landing mid-query cannot change what it reads;
  *
  * plus the two ADVICE r13 hardenings: racing publishers claim
  * DISTINCT generations (the atomic no-overwrite rename), and a
  * corrupt/truncated manifest degrades to a clear error instead of a
  * NumberFormatException.
  */
class AtomicPublishSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String = tempDir(prefix).toString

  /** A complete snapshot: `n` rows all tagged with generation `g` —
    * homogeneity of the tag is what "never mixed" means observably. */
  private def snapshot(g: Long, n: Int = 50): DataFrame =
    spark.range(n).select(col("id"), lit(g).as("tag"))

  private def tagsOf(df: DataFrame): (Set[Long], Long) = {
    val rows = df.select(col("tag")).as[Long].collect()
    (rows.toSet, rows.length.toLong)
  }

  // ---------------------------------------------------- (a) no mixing

  test("(a) readers racing a stream of publishes see exactly one " +
       "complete generation per read, never a mix") {
    val dir = tmp("wap-race")
    assert(AtomicPublish.publish(snapshot(0), dir)
      == AtomicPublish.Published(0))

    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          while (!stop.get()) {
            val (tags, n) = tagsOf(AtomicPublish.readPublished(spark, dir))
            reads.incrementAndGet()
            if (tags.size != 1)
              bad.add(s"mixed generations in one read: $tags")
            else if (n != 50)
              bad.add(s"partial snapshot: ${n} rows of tag ${tags.head}")
          }
        }
      })
    }
    start.countDown()
    (1L to 6L).foreach { g =>
      assert(AtomicPublish.publish(snapshot(g), dir)
        == AtomicPublish.Published(g))
    }
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(bad.isEmpty, s"torn reads: ${bad.toArray.mkString("; ")}")
    assert(reads.get() > 0, "readers must have actually raced the flips")
    val (tags, n) = tagsOf(AtomicPublish.readPublished(spark, dir))
    assert(tags == Set(6L) && n == 50)
  }

  // ------------------------------------------- (b) crash before flip

  test("(b) a crash between claim and flip leaves the old view " +
       "published; the next publish numbers past the orphan") {
    val dir = tmp("wap-crash")
    assert(AtomicPublish.publish(snapshot(0), dir)
      == AtomicPublish.Published(0))
    // simulate the crash: a claimed generation directory exists (the
    // publisher died after the claim rename, before the manifest flip)
    snapshot(99).write.parquet(s"$dir/gen=5")
    assert(AtomicPublish.currentGeneration(dir) == Some(0L),
      "the orphan must not affect the published pointer")
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(0L), 50L))
    // and a crash mid-STAGE: an attempt directory that never renamed
    snapshot(98).write.parquet(s"$dir/_staging/dead-attempt")
    // the next publish skips past the orphaned claim (max(0, 5)+1 = 6)
    assert(AtomicPublish.publish(snapshot(6), dir)
      == AtomicPublish.Published(6))
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(6L), 50L))
  }

  // ------------------------------------------- (c) audit gates publish

  test("(c) a failed audit never publishes — pointer, readers and the " +
       "prior snapshot untouched; the rejected stage keeps a numbered " +
       "home") {
    val dir = tmp("wap-audit")
    assert(AtomicPublish.publish(snapshot(0), dir)
      == AtomicPublish.Published(0))
    // the q132-style constraint set over the READ-BACK staged data:
    // Profile.audit in long form, any failing check rejects
    def gate(df: DataFrame): Option[String] = {
      val failed = Profile.audit(df,
          Seq(Profile.RowCheck("tag_nonneg", col("tag") < 0),
              Profile.RowCheck("id_in_range", col("id") >= 50)),
          uniqueKey = Some(("id_unique", Seq("id"))))
        .filter(!col("pass")).select("check_name").as[String].collect()
      if (failed.isEmpty) None else Some(failed.sorted.mkString(","))
    }
    // a snapshot violating tag_nonneg AND id_unique
    val badDf = spark.range(50).select(col("id") % 25, lit(-1L).as("tag"))
      .toDF("id", "tag")
    val r = AtomicPublish.publish(badDf, dir, gate)
    assert(r == AtomicPublish.AuditRejected(1, "id_unique,tag_nonneg"))
    assert(AtomicPublish.currentGeneration(dir) == Some(0L))
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(0L), 50L))
    // rejected data is preserved under its claimed generation for
    // debugging (and future numbering skips it)
    assert(spark.read.parquet(s"$dir/gen=1").count() == 50)
    val ok = AtomicPublish.publish(snapshot(2), dir, gate)
    assert(ok == AtomicPublish.Published(2))
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(2L), 50L))
  }

  // ----------------------------------------------------- (d) vacuum

  test("(d) vacuum reclaims only generations strictly older than the " +
       "published one's predecessor") {
    val dir = tmp("wap-vacuum")
    (0L to 3L).foreach(g => assert(
      AtomicPublish.publish(snapshot(g), dir)
        == AtomicPublish.Published(g)))
    assert(AtomicPublish.vacuum(dir) == Seq(0L, 1L))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=0")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=1")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=2")),
      "the predecessor must survive (in-flight readers finish on it)")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=3")))
    assert(AtomicPublish.vacuum(dir) == Nil, "idempotent")
    assert(AtomicPublish.vacuum(dir, keepLatest = 1) == Seq(2L))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=3")))
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(3L), 50L))
    intercept[IllegalArgumentException](AtomicPublish.vacuum(dir, 0))
  }

  // --------------------------------------------- (e) generation pin

  test("(e) readPublished pins one generation: a publish landing after " +
       "the resolve does not change what the frame reads") {
    val dir = tmp("wap-pin")
    assert(AtomicPublish.publish(snapshot(0), dir)
      == AtomicPublish.Published(0))
    val pinned = AtomicPublish.readPublished(spark, dir)
    assert(AtomicPublish.publish(snapshot(1), dir)
      == AtomicPublish.Published(1))
    assert(tagsOf(pinned) == (Set(0L), 50L),
      "the pre-flip frame must still read generation 0 in full")
    assert(tagsOf(AtomicPublish.readPublished(spark, dir)) == (Set(1L), 50L))
  }

  // ------------------------------------- racing publishers (ADVICE r13)

  test("racing publishers claim DISTINCT generations; both land " +
       "complete; the pointer ends on one of them") {
    val dir = tmp("wap-pubrace")
    assert(AtomicPublish.publish(snapshot(0), dir)
      == AtomicPublish.Published(0))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    (10L to 11L).foreach { tag =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          AtomicPublish.publish(snapshot(tag), dir) match {
            case AtomicPublish.Published(g) => results.add(g)
            case other => fail(s"unexpected $other")
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val gens = results.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(gens.length == 2 && gens.toSet.size == 2,
      s"racing publishers must claim distinct generations, got " +
        gens.mkString(","))
    // both generation directories are complete snapshots
    gens.foreach { g =>
      val (tags, n) = tagsOf(spark.read.parquet(s"$dir/gen=$g"))
      assert(tags.size == 1 && n == 50, s"gen=$g incomplete: $tags, $n")
    }
    // the pointer ends on one of the two (last flip wins), readable whole
    val (tags, n) = tagsOf(AtomicPublish.readPublished(spark, dir))
    assert(tags.subsetOf(Set(10L, 11L)) && tags.size == 1 && n == 50)
  }

  // ------------------------------------------- manifest hardening

  test("corrupt or empty manifest degrades to None / a clear error, " +
       "never NumberFormatException") {
    val dir = tmp("wap-corrupt")
    assert(AtomicPublish.currentGeneration(dir).isEmpty)
    intercept[IllegalStateException](
      AtomicPublish.readPublished(spark, dir))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    def writeManifest(bytes: Array[Byte]): Unit = {
      val out = f.create(
        new org.apache.hadoop.fs.Path(s"$dir/_MANIFEST"), true)
      try out.write(bytes) finally out.close()
    }
    writeManifest("not-a-number".getBytes("UTF-8"))
    assert(AtomicPublish.currentGeneration(dir).isEmpty)
    writeManifest(Array.emptyByteArray)
    assert(AtomicPublish.currentGeneration(dir).isEmpty)
    // a partially-written value that IS a number still parses (reads
    // to EOF, not one read() call)
    writeManifest("7\n".getBytes("UTF-8"))
    assert(AtomicPublish.currentGeneration(dir) == Some(7L))
  }
}
