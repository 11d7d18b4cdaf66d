package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.Sinks

/** The canonical market-table set the serving surface ([[graft.api.PTradeApi]])
  * programs against. Two implementations:
  *
  *  - [[MarketViews]] derives every table from the raw fixtures per query —
  *    the correctness reference, used by specs and by oracles;
  *  - [[MarketStore]] reads tables materialized once by
  *    [[MarketStore.materialize]] — the serving path. At 100 TB the
  *    derivation runs once per ingest batch, not once per API call, and the
  *    api layer must only ever touch the materialized layout (SCALE.md
  *    storage story). Byte-identical results: the store is the same plan
  *    written to parquet and read back (double round-trip is exact).
  */
trait MarketTables {
  def bars: DataFrame
  def calendar: DataFrame

  /** bars restricted to [start, end] (dates as `yyyy-MM-dd`). Implementations
    * over a partitioned layout override this to ALSO push a predicate on the
    * partition column: the engine cannot derive `p_month` bounds from a
    * `date` filter on its own, and without them a date-range query scans
    * every partition of the fact table. */
  def barsInRange(start: String, end: String): DataFrame =
    bars.filter(col("date").between(lit(start), lit(end)))

  /** bars at or before `end` — upper partition bound only. */
  def barsUpTo(end: String): DataFrame =
    bars.filter(col("date") <= lit(end))

  /** valuation restricted to [start, end]; same pruning contract as
    * [[barsInRange]]. */
  def valuationInRange(start: String, end: String): DataFrame =
    valuation.filter(col("date").between(lit(start), lit(end)))
  def exrightsEvents: DataFrame
  def exrightsAB: DataFrame
  def adjFactors: DataFrame
  def fundamentals: DataFrame
  def fundamentalsAll: DataFrame
  def valuation: DataFrame
  def indexConstituents: DataFrame
  def stockMetadata: DataFrame
  def industry: DataFrame

  /** Versioned (point-in-time) industry membership: one epoch per
    * (symbol, trading year), effective from the symbol's first trading day
    * of that year — the reference keeps per-stock status HISTORY
    * (h5_writer.py:102-148), so the industry dimension is versioned too.
    * A trait default derived from [[bars]] (one map-side-combinable
    * aggregate) so both implementations share the exact rule. */
  def industryHistory: DataFrame = MarketViews.industryHistoryFrom(bars)
}

/** Materialized serving layout: fact tables (bars, valuation) month-
  * partitioned via [[Sinks.writePartitioned]] (partition-pruned date
  * predicates + symbol run-length locality); dimensions unpartitioned via
  * [[Sinks.writeDim]].
  *
  * One instance is one published version of the store: each table is
  * resolved (file listing + schema) once, on first use, and every accessor
  * is a filter or projection over that resolved frame. A call then pays
  * planning plus its scan, never a fresh listing or schema-inference job;
  * the `p_month` predicates prune against the listing cached in the
  * table's file index. The store is immutable once published, so a new
  * version is a new instance ([[MarketStore.materialize]] returns one). */
final case class MarketStore(spark: SparkSession, root: String) extends MarketTables {
  private def read(name: String): DataFrame = spark.read.parquet(s"$root/$name")

  @transient private lazy val barsAll: DataFrame = read("bars")
  @transient private lazy val valuationAll: DataFrame = read("valuation")

  def bars: DataFrame = barsAll.drop("p_month")
  def valuation: DataFrame = valuationAll.drop("p_month")

  // explicit partition predicates: p_month is 'yyyy-MM', which orders
  // lexicographically, so month bounds derived from the date bounds prune
  // the file listing to exactly the touched months
  private def prunedRange(all: DataFrame, start: String, end: String): DataFrame =
    all.filter(col("p_month").between(start.substring(0, 7), end.substring(0, 7)))
      .filter(col("date").between(lit(start), lit(end)))
      .drop("p_month")
  override def barsInRange(start: String, end: String): DataFrame =
    prunedRange(barsAll, start, end)
  override def barsUpTo(end: String): DataFrame =
    barsAll.filter(col("p_month") <= end.substring(0, 7))
      .filter(col("date") <= lit(end))
      .drop("p_month")
  override def valuationInRange(start: String, end: String): DataFrame =
    prunedRange(valuationAll, start, end)
  @transient lazy val calendar: DataFrame = read("calendar")
  @transient lazy val exrightsEvents: DataFrame = read("exrights_events")
  @transient lazy val exrightsAB: DataFrame = read("exrights_ab")
  @transient lazy val adjFactors: DataFrame = read("adj_factors")
  @transient lazy val fundamentals: DataFrame = read("fundamentals")
  @transient lazy val fundamentalsAll: DataFrame = read("fundamentals_all")
  @transient lazy val indexConstituents: DataFrame = read("index_constituents")
  @transient lazy val stockMetadata: DataFrame = read("stock_metadata")
  @transient lazy val industry: DataFrame = read("industry")
}

object MarketStore {
  /** One writePartitioned/writeDim pass over every canonical view.
    * Per-table wall seconds go to stderr in the `[bench]` line pattern —
    * the bench's `store_build` line is a black box otherwise, and its
    * history of ±2× swings (r8: 62.9 s, r9: 36.4 s, same code) needed a
    * per-table breakdown to attribute to box noise vs a real regression. */
  def materialize(views: MarketViews, root: String): MarketStore = {
    def timed(name: String)(write: => Unit): Unit = {
      val t0 = System.nanoTime()
      write
      System.err.println(f"[bench] store_build/$name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    timed("bars")(Sinks.writePartitioned(views.bars, s"$root/bars"))
    timed("valuation")(Sinks.writePartitioned(views.valuation, s"$root/valuation"))
    timed("calendar")(Sinks.writeDim(views.calendar, s"$root/calendar"))
    timed("exrights_events")(Sinks.writeDim(views.exrightsEvents, s"$root/exrights_events"))
    timed("exrights_ab")(Sinks.writeDim(views.exrightsAB, s"$root/exrights_ab"))
    timed("adj_factors")(Sinks.writeDim(views.adjFactors, s"$root/adj_factors"))
    timed("fundamentals")(Sinks.writeDim(views.fundamentals, s"$root/fundamentals"))
    timed("fundamentals_all")(Sinks.writeDim(views.fundamentalsAll, s"$root/fundamentals_all"))
    timed("index_constituents")(Sinks.writeDim(views.indexConstituents, s"$root/index_constituents"))
    timed("stock_metadata")(Sinks.writeDim(views.stockMetadata, s"$root/stock_metadata"))
    timed("industry")(Sinks.writeDim(views.industry, s"$root/industry"))
    MarketStore(views.spark, root)
  }

  // One materialization per source dir per JVM: the first api_* call pays
  // the derivation, every later call reads parquet. Keyed on the source dir
  // (the fixtures are immutable inputs).
  private val cache = scala.collection.concurrent.TrieMap.empty[String, MarketStore]

  /** The materialized store for a fixture dir, building it on first use. */
  def cached(spark: SparkSession, dir: String): MarketStore =
    cache.getOrElseUpdate(dir, {
      val root = s"${sys.props("java.io.tmpdir")}/graft_store/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      materialize(MarketViews(spark, dir, materializeHeavy = true), root)
    })

  /** Drop cached stores (test hook). */
  def reset(): Unit = cache.clear()
}
