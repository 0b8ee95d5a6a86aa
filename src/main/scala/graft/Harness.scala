package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

/** The kit every `main` harness shares: one session, one query filter
  * and one JSON renderer. Harness settings live here and nowhere else;
  * the streaming drive loop and its workload generator belong to the one
  * streaming census, [[StreamBench]].
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
}
