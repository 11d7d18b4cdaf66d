package graft

import org.apache.spark.sql.functions.{col, udf}

/** Bench fails loudly: a query that throws in any pass is reported failed,
  * never billed a partial wall. */
class BenchSpec extends SparkSpec {

  test("count() succeeds but the timed noop write throws: the query is failed") {
    // count() prunes the unused UDF column; the noop sink materializes it
    val boom = udf((x: Long) => { if (x >= 0) sys.error("boom in timed run"); x })
    val query = () => spark.range(3).withColumn("b", boom(col("id")))
    assert(query().count() == 3)
    assert(Bench.measure(spark, "boom", query).isEmpty)
  }

  test("a healthy query reports its row count and a positive wall") {
    val Some((wall, rows, _)) = Bench.measure(spark, "ok", () => spark.range(5).toDF())
    assert(rows == 5 && wall > 0)
  }
}
