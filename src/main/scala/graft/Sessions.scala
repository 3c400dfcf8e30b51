package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The one SparkSession factory for every graft main and the test suites.
  *
  * Every session is `local[cores]` with one shuffle partition per core,
  * UTC, `nanosAsLong` (the ns-vintage events corpus reads without a conf
  * write, [[sources.Tables.ensureEventsConf]]), the UI off, WARN logging
  * and a per-process warehouse under the `graft_wh` per-pid root (so two
  * JVMs never share `spark-warehouse/`).
  * The width is the only thing a caller chooses: the golden manifest and
  * the test suites pin 4, Verify defaults to 4 (the driver's contract),
  * and Bench, Probe and ScaleCheck default to the machine's cores.
  */
object Sessions {

  /** Core count from `SPARK_GRAFT_CPUS`, else `fallback` (the machine's
    * cores): a benchmark main that silently runs on 4 threads when the
    * env var is absent reports 3-8x-slow numbers that look like
    * regressions. */
  def cpus(fallback: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(fallback)

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", sources.TmpDirs.perPidRoot("graft_wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A child session sharing the SparkContext, catalog and cached data
    * with `spark`, carrying all of spark's MODIFIABLE runtime confs
    * (newSession() starts from builder/static confs, not the caller's
    * runtime state — AQE toggles, broadcast thresholds, timezone must
    * mean the same thing inside the scope), then `confs` on top. The one
    * way a key changes a planner conf: DataFrames built against the
    * child plan under `confs`, while the caller's session — and every
    * later key on it — never sees them, even when the key throws.
    */
  def scoped(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (child.conf.isModifiable(k)) child.conf.set(k, v)
    }
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** The one broadcast-size election: do `rows` observed rows of `schema`
    * (at its default row size) fit `spark`'s auto-broadcast join
    * threshold? A negative threshold means never. Logs `[broadcast]
    * <what> rows=… bytes=… threshold=… fits=…` to stderr (never stdout:
    * Bench's two-line protocol).
    */
  def fitsBroadcast(spark: SparkSession, what: String, rows: Long,
      schema: StructType): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = rows * schema.defaultSize
    val fits = threshold >= 0 && bytes <= threshold
    System.err.println(
      s"[broadcast] $what rows=$rows bytes=$bytes threshold=$threshold fits=$fits")
    fits
  }
}
