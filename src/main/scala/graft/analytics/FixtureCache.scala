package graft.analytics

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once cache for frames several queries or passes share: the
  * co-purchase pair census ([[SharedGraph]]), the near-dup cluster pass
  * ([[ExtQueries.SharedClusterPass]]) and the relationally SYNTHESIZED
  * media fixtures (q95 WAV, q173 PDF, q174 DOCX, …). Their synthesis —
  * endian-hex CTEs, per-entry transform() lambdas — exists only because
  * the testdata has no real media column; in production the bytes
  * arrive from storage.
  * Without this cache the bench row priced the synthesis, not the
  * parser (q174's 4.0 s row was ~¾ ZIP string-building — VERDICT r10
  * item 5): Bench's untimed warm-up pass populates the cache, so timed
  * passes measure the operator against materialized bytes.
  *
  * `localCheckpoint(eager = true)` truncates lineage and pins the
  * blocks executor-local (MEMORY_AND_DISK — safe in the single-JVM
  * bench/verify topology; media fixtures never exist at production
  * scale).
  * Keyed by (name, sfDir, partition regime, session): InvarianceSpec
  * re-runs queries under different `graft.test.inputPartitions` /
  * shuffle-partition regimes, and each regime must build its own frame
  * or the invariance check would compare a frame to itself.
  * `computeIfAbsent` builds each frame at most once; a build must not
  * call `materialized` itself.
  */
object FixtureCache {
  private val frames =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def materialized(spark: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val regime = spark.conf.getOption("graft.test.inputPartitions")
      .getOrElse("-") + "|" +
      spark.conf.getOption("spark.sql.shuffle.partitions").getOrElse("-")
    // applicationId, NOT identityHashCode: an identity hash is reusable
    // after GC, so a later session could be served a checkpointed frame
    // whose blocks belong to a STOPPED context ("SparkContext has been
    // shutdown" at execution); stale entries are never hit and the
    // residue is bounded by sessions-per-JVM
    frames.computeIfAbsent(
      s"$name|$dir|$regime|${spark.sparkContext.applicationId}",
      _ => build.localCheckpoint(eager = true))
  }

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The session's directory for files a query writes and reads back
    * (q64's and q127's ANN indexes): one per SparkContext, under
    * `java.io.tmpdir`, deleted when the context stops. */
  def sessionDir(spark: SparkSession): java.nio.file.Path = {
    val sc = spark.sparkContext
    dirs.computeIfAbsent(sc.applicationId, app => {
      val dir = java.nio.file.Files.createTempDirectory("graft-session-")
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          FileUtils.deleteQuietly(dir.toFile)
          dirs.remove(app)
        }
      })
      dir
    })
  }
}
