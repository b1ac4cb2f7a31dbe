package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder of the repo's mains and suites. It
  * sets the session contract every operator assumes, which
  * [[GraftExtensions]] checks on every analyzed plan:
  *   - ANSI off: Mongo-like null-on-malformed casts and arithmetic
  *     (SURVEY.md §7.3);
  *   - UTC session zone: `Tables.load` and `StreamOps.normalizeEventTime`
  *     normalize timestamps in it;
  *   - `nanosAsLong`: events.ts is TIMESTAMP(NANOS) parquet (see
  *     `Tables.load`);
  *   - micros (not INT96) parquet timestamps, so DuckDB and pyarrow
  *     read written timestamps losslessly.
  * A host application that builds its own session enables
  * `graft.GraftExtensions` and sets the same contract. */
object Sessions {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
