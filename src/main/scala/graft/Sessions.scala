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
  /** Generated classes Spark keeps compiled per JVM (a static conf, read
    * when the first class compiles). Spark's default of 100, split by Guava
    * into four LRU segments, is smaller than one pass of the operator suite
    * (151 classes), so a warm re-run recompiled about 150 of them in
    * Janino. One EntryAnalysisSpec traversal (328 queries, sf0.001)
    * generates 3,709 distinct classes; at 1000 it compiles 4,093 times
    * instead of 6,357, and metaspace after it is 242 MB instead of 235 MB
    * (262 MB with no bound). 1000 holds the largest working set re-run in
    * one JVM (the suite, or one query's warm and timed runs in Bench) with
    * room in each segment. Class names carry no codegen stage id: AQE may
    * number a pipeline's stage differently on a re-run, and the id in the
    * name would make identical code a cache miss. */
  private val CodegenCacheEntries = 1000

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
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
