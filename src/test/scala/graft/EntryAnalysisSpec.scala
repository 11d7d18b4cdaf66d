package graft

import org.apache.spark.sql.graftshim.{Work, WorkCounter}
import org.apache.spark.sql.types.DecimalType

/** Analysis smoke test over the ENTIRE gate surface: every entry in
  * [[SparkEntry.queries]] must at least produce a resolved logical plan
  * against the sf0.001 fixtures. It exists because round 5 shipped a query
  * that threw `UNRESOLVED_COLUMN` on first touch: specs-by-convention don't
  * cover late-added queries, this does, mechanically.
  *
  * The same traversal pins each query's WORK BUDGET (`docs/WORK_BUDGET.tsv`):
  * jobs, completed stages, shuffle records written and input records read
  * by one construction + noop write. Those counts are deterministic, so
  * any change to them (an added shuffle, a lost broadcast, an extra eager
  * job) fails by name instead of hiding in wall-clock noise.
  *
  * Also pins the gate invariants the driver relies on: every query has a
  * distinct name, and every oracle key refers to a registered query.
  */
class EntryAnalysisSpec extends SparkSpec {

  private case class Visit(name: String, analysisError: Option[String],
                           decimalCols: Seq[String], work: Either[String, Work])

  private def message(e: Throwable): String = // null for SOE/NPE
    Option(e.getMessage).getOrElse(e.toString).take(200)

  /** ONE pass over every query in sorted order. A warm construction first
    * (analysis + schema checks) fills the per-JVM caches — MarketStore,
    * Pq/GraphAnn indexes, Replay's staged chunks — so the counted
    * construction + noop write after it costs the same whatever ran
    * before; `clearCache` between queries drops persisted intermediates. */
  private lazy val visits: Seq[Visit] = {
    val counter = new WorkCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val visit =
        try {
          val schema = fn(spark, sf0001).queryExecution.analyzed.schema
          val dec = schema.fields.collect {
            case f if f.dataType.isInstanceOf[DecimalType] => f.name
          }.toSeq
          counter.reset()
          val work =
            try {
              fn(spark, sf0001).write.format("noop").mode("overwrite").save()
              Right(counter.read())
            } catch { case e: Throwable => Left(message(e)) }
          Visit(name, None, dec, work)
        } catch { case e: Throwable =>
          Visit(name, Some(message(e)), Nil, Left("analysis failed")) }
      spark.catalog.clearCache()
      visit
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("every SparkEntry query analyzes against sf0.001") {
    val failures = visits.flatMap(v => v.analysisError.map(e => s"${v.name}: $e"))
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("no gate emits a decimal-family output column") {
    // Driver-hash hazard (r13 text_collocations, r10 graph_pagerank one
    // layer down): DECIMAL/HUGEINT output columns round-trip differently
    // through the driver's parquet reader vs its DuckDB oracle during hash
    // canonicalization, so a gate can be value-exact locally and still red
    // in CORRECTNESS. Decimals are fine INTERNALLY (exact cross-multiply);
    // they must never reach a dumped schema. tools/local_verify.py carries
    // the same guard on the dumped parquet side.
    val offenders = visits.collect {
      case v if v.decimalCols.nonEmpty => s"${v.name}: ${v.decimalCols.mkString(", ")}"
    }
    assert(offenders.isEmpty,
      s"decimal-family output columns (driver hash hazard):\n${offenders.mkString("\n")}")
  }

  test("every query's work matches docs/WORK_BUDGET.tsv exactly") {
    // Exact in both directions: an increase is a regression, a decrease
    // is a change worth reading about. Rebase = copy the observed table
    // over the pinned one and log the rebase in CHANGES.md.
    val header = ("query" +: Work.ColumnNames).mkString("\t")
    val observed = java.nio.file.Paths.get("target/WORK_BUDGET.tsv")
    java.nio.file.Files.createDirectories(observed.getParent)
    java.nio.file.Files.writeString(observed, (header +: visits.map { v =>
      (v.name +: v.work.fold(_ => Seq.fill(Work.ColumnNames.size)("-1"),
        _.columns.map(_.toString))).mkString("\t")
    }).mkString("", "\n", "\n"))
    val src = scala.io.Source.fromFile("docs/WORK_BUDGET.tsv", "UTF-8")
    val pinned = try src.getLines().drop(1).map(_.split("\t")).map { r =>
      r.head -> r.tail.map(_.toLong).toSeq }.toMap finally src.close()
    val diffs = visits.flatMap { v =>
      (pinned.get(v.name), v.work) match {
        case (None, _) => Seq(s"${v.name}: no pinned row")
        case (_, Left(e)) => Seq(s"${v.name}: counted run failed: $e")
        case (Some(pin), Right(w)) =>
          Work.ColumnNames.zip(pin.zip(w.columns)).collect {
            case (c, (p, o)) if p != o => s"${v.name}: $c pinned $p observed $o"
          }
      }
    } ++ (pinned.keySet -- visits.map(_.name)).toSeq.sorted
      .map(k => s"$k: pinned row for an unknown query")
    assert(diffs.isEmpty, s"\n${diffs.mkString("\n")}\nobserved table: $observed " +
      "(rebase: copy it over docs/WORK_BUDGET.tsv and log the rebase in CHANGES.md)")
  }

  test("oracle keys are a subset of query names, names are distinct") {
    val qNames = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qNames
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("no duplicate gate keys in the SparkEntry source") {
    // A Map literal silently keeps the LAST duplicate key, so a re-used
    // gate name shadows an earlier query AND its oracle with no compile
    // or runtime signal (round-12 precedent: a second "stream_enrich"
    // made the new dim-default lane dead code). The Map can't see it —
    // the source can.
    // r16: the gate wiring is split across SparkEntry.scala (oracles +
    // composition) and the per-family traits under entry/ — the guard
    // scans their UNION, so a key duplicated ACROSS files is caught too
    val entryFiles = new java.io.File("src/main/scala/graft/entry")
      .listFiles().filter(_.getName.endsWith(".scala")).map(_.getPath).sorted
    val text = ("src/main/scala/graft/SparkEntry.scala" +: entryFiles.toSeq)
      .map { p =>
        val src = scala.io.Source.fromFile(p, "UTF-8")
        try src.mkString finally src.close()
      }.mkString("\n")
    val qKeyRe = """"([a-z0-9_]+)" -> \(\(s, dir\)""".r
    def dups(keys: Seq[String]) =
      keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    val qDups = dups(qKeyRe.findAllMatchIn(text).map(_.group(1)).toSeq)
    assert(qDups.isEmpty, s"duplicate query keys: $qDups")
    // Any gate name bound more than twice (once as query, at most once as
    // oracle) means a duplicate somewhere — regardless of entry layout.
    val anyKeyRe = """"([a-z0-9_]+)" ->""".r
    val counts = anyKeyRe.findAllMatchIn(text).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val over = SparkEntry.queries.keySet.filter(k => counts.getOrElse(k, 0) > 2)
    assert(over.isEmpty, s"gate names bound more than query+oracle: $over")
  }

  test("every oracle references only fixture tables the driver registers") {
    // the driver creates one DuckDB view per fixture parquet; a typo'd
    // table name would only surface as a driver-side SQL error next round
    // — catch it here. FROM/JOIN targets must be fixture tables or CTE
    // names defined in the same statement.
    val fixtures = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // `(?<!DISTINCT\s)` keeps the null-safe comparator `IS NOT DISTINCT
    // FROM alias.col` from reading as a table reference (j11_nullsafe).
    val fromRe =
      "(?is)\\b(?:(?<!DISTINCT\\s)FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    // CTE name forms: `name AS (`, `WITH [RECURSIVE] name AS (`,
    // `name AS MATERIALIZED (`, and column-listed `name(c1, c2) AS (`
    val cteRe = ("(?im)(?:^|,|\\(|\\bWITH\\b(?:\\s+RECURSIVE)?)\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(").r
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val ctes = cteRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = fromRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- ctes -- fixtures -
        "unnest" - "range" - "read_parquet" // table functions
      if (unknown.isEmpty) None else Some(s"$name: $unknown")
    }
    assert(bad.isEmpty, s"\nunknown oracle table refs:\n${bad.mkString("\n")}")
  }
}
