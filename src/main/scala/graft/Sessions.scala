package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a local session — the mains (`Bench`,
  * `Verify`, `Probe`) and the spec suite all start here, so the confs a
  * run depends on cannot drift between them:
  *
  *  - [[GraftExtensions]] registered;
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone;
  *  - the two timestamp confs the test data needs: TIMESTAMP(NANOS)
  *    parquet reads as long (`nanosAsLong`), and naive micros read as
  *    LTZ, not TIMESTAMP_NTZ, which breaks watermarks and long casts
  *    (see [[Tables.normalizeNtz]]);
  *  - no UI, log level WARN.
  */
object Sessions {

  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 8. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

  /** The configured builder; callers may add confs before `getOrCreate`. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  /** The session a main runs on. */
  def local(cpus: Int = Sessions.cpus): SparkSession = builder(cpus).getOrCreate()
}
