package graft

import java.util.Locale

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The kit every `main` harness shares: one session, one query filter,
  * one JSON renderer and one streaming drive loop with its word
  * generator. Harness settings live here and nowhere else.
  */
object Harness {

  /** Cores of the local master: SPARK_GRAFT_CPUS, else the machine's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI and
    * the RocksDB state store (transformWithState needs it). Log level
    * ERROR comes from `log4j2.properties`, so it holds from JVM start.
    */
  def session(): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()

  /** The registered names SPARK_GRAFT_ONLY selects, sorted: a
    * comma-separated list matched on the full name or on the short id
    * before the first '_' (`q122,q80`). Unset selects every name.
    */
  def selected(names: Iterable[String]): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    names.toSeq.sorted.filter(n => only.forall(ids =>
      ids.contains(n) || ids.contains(n.takeWhile(_ != '_'))))
  }

  /** A JSON string: quotes, backslashes and every control character are
    * escaped, so hand-written oracle SQL or an exception message with a
    * tab still parses.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' =>
      String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""

  /** A JSON number with `decimals` places; NaN and infinities are `null`.
    * Locale.ROOT: the default locale may write decimal commas.
    */
  def num(d: Double, decimals: Int): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** A JSON object in field order. Values are inserted with `toString`:
    * pass integers, booleans, or JSON already rendered by [[str]],
    * [[num]], [[arr]] or [[obj]].
    */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** A JSON array of already-rendered values. */
  def arr(values: Seq[Any]): String = values.mkString("[", ",", "]")

  /** One drive of a streaming query: its checkpoint, the wall time of
    * each timed batch and the sink rows those batches produced.
    */
  final case class Drive(checkpoint: String, batchNanos: Seq[Long],
                         outRows: Long)

  /** Runs `out` (derived from `source`) into a memory sink from a fresh
    * checkpoint: each `warmup` batch untimed, then each of `batches` timed
    * as one addData -> processAllAvailable cycle (Spark's no-data
    * watermark batches included). The query is stopped on return, so the
    * checkpoint can be read back.
    */
  def drive[I](spark: SparkSession, source: MemoryStream[I],
               out: Dataset[_], tag: String, batches: Seq[Seq[I]],
               warmup: Seq[Seq[I]] = Nil): Drive = {
    val safe = tag.replaceAll("[^A-Za-z0-9_]", "_")
    val chk = java.nio.file.Files.createTempDirectory(s"drive-$safe").toString
    val name = s"drive_${safe}_${System.nanoTime()}"
    val q = out.writeStream.option("checkpointLocation", chk)
      .format("memory").queryName(name).outputMode("append").start()
    def run(b: Seq[I]): Unit = { source.addData(b); q.processAllAvailable() }
    warmup.foreach(run)
    val warmRows = spark.table(name).count()
    val nanos = batches.map { b =>
      val t0 = System.nanoTime()
      run(b)
      System.nanoTime() - t0
    }
    q.stop()
    val outRows = spark.table(name).count() - warmRows
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Drive(chk, nanos, outRows)
  }

  /** Next state of the deterministic generator behind every workload (no
    * RNG: replay-stable inputs). */
  def lcg(seed: Long): Long =
    seed * 6364136223846793005L + 1442695040888963407L

  /** `n` words "w<k>", k < `vocab`, drawn from the generator at `seed`. */
  def words(seed: Long, n: Int, vocab: Int): String = {
    var s = seed
    (0 until n).map { _ => s = lcg(s); "w" + Math.floorMod(s, vocab.toLong) }
      .mkString(" ")
  }
}
