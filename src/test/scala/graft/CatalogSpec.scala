package graft

import org.apache.spark.sql.types.DateType
import graft.queries.Catalog

/** Contract tests for the driver-facing catalog: every query runs at
  * sf0.001, returns rows, carries an oracle, and obeys the determinism
  * conventions (no DATE outputs, unique names, name-stable schema).
  */
class CatalogSpec extends SparkSpec {

  test("query names are unique") {
    val names = Catalog.specs.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every query declares a DuckDB oracle") {
    val missing = Catalog.specs.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("entry (flagship) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every catalog query returns rows and no DATE columns at sf0.001") {
    val slow = Set("st1_stream_hourly", "st2_stream_dedup", "st3_stream_stateful")
    // Every entry runs, and every failing one is named: a loop that
    // stopped at the first failure left the entries after it unchecked.
    val failures = Catalog.specs.filterNot(s => slow(s.name)).flatMap { spec =>
      scala.util.Try {
        val df = spec.fn(spark, Sf0001)
        val dateCols = df.schema.fields.filter(_.dataType == DateType).map(_.name)
        if (dateCols.nonEmpty)
          Some(s"DATE columns break the pandas/duckdb compare: ${dateCols.mkString(",")}")
        else if (df.count() == 0) Some("empty result at sf0.001")
        else None
      }.fold(e => Some(s"${e.getClass.getName}: ${e.getMessage}"), identity)
        .map(why => s"${spec.name}: ${why.take(400)}")
    }
    assert(failures.isEmpty,
      s"${failures.size} catalog entries failed:\n${failures.mkString("\n")}")
  }
}
