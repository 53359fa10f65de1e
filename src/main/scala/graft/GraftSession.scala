package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's recommended configuration.
 *
 * The reference pipeline (jack-kelly-12/d3d-etl, `processors/run_all.py`)
 * is a single-process pandas DAG; its only "configuration" is RAM
 * discipline (`gc.collect()` between stages). Here the equivalent knobs
 * are shuffle sizing and adaptive execution, chosen for a cluster but
 * exercised on `local[N]`:
 *
 *  - `spark.sql.shuffle.partitions` defaults to the local core count
 *    (32 in this harness) rather than 200 — at 100 TB this would be
 *    raised, but AQE coalesces post-shuffle partitions either way.
 *  - AQE on: runtime re-planning handles skewed joins and picks
 *    broadcast joins from runtime stats — important for the skewed
 *    key distributions a 1000-executor job meets.
 *  - `nanosAsLong`: the harness events table stores TIMESTAMP(NANOS)
 *    which vanilla Spark refuses; we read ns as long and convert to
 *    microsecond timestamps at the source boundary (see
 *    [[graft.sources.Tables.events]]).
 */
object GraftSession {

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .appName(appName)
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = start(builder(appName))

  /** The harness and tool session (Bench, Verify, `graft.tools`): the
    * [[builder]] configuration on `local[SPARK_GRAFT_CPUS]` (default:
    * every core) with one shuffle partition per core. */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    start(builder(appName).master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus))
  }

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Metrics.enableLogging(spark) // capped drops → stderr
    spark
  }
}
