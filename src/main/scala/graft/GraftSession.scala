package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard conf.
  *
  * Scale posture: these settings are tuned for the local[32] harness but the
  * same knobs are the ones that matter on a 1000-executor cluster — AQE for
  * runtime re-planning (skew joins, dynamic coalescing), small shuffle
  * partition count locally (set partitions ~ 2-3x total cores on a real
  * cluster), and broadcast join threshold for dimension tables.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long, normalized
      // in Tables.load (Spark's TimestampType is micros-only).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The engine's integer confs: `default` when `key` is unset; a value
    * that is not an integer fails naming the key, before any work runs. */
  def longConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { v =>
      v.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$key must be an integer: got '$v'"))
    }
}
