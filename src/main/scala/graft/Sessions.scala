package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * ANSI mode is disabled deliberately: the reference coerces bad numerics to
  * null (`pd.to_numeric(errors="coerce")`, unified_fetcher.py:137-143) and the
  * engine reproduces those semantics with plain `cast` (SURVEY.md §2.8 C3).
  * Shuffle partitions default to the local core count — on a real cluster this
  * is overridden (AQE coalescing handles the rest).
  */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // graft Catalyst rules (fold dot-product -> codegen'd VecDotFloat)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The deliberate single-partition windows (bounded top-k, the
    // broadcast-sized centroid ranking in Ann.hierarchicalAssign) WARN on
    // every execution; they are single-partition BY CONSTRUCTION, so the
    // flood is noise.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
