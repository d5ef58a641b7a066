package graft.queries

import graft.SparkSpec
import graft.profile.Profiler
import graft.sources.Lake

/** `Shared.lakeSchemas` generates oracle SQL (`valsCte` and the unified
  * lake-profile SQL), so it must be the lake's real schema in the
  * profiler's logical types. */
class SharedSpec extends SparkSpec {

  test("lakeSchemas is each sf0.001 table's schema under Profiler.logicalType") {
    val dir = "/root/testdata/sf0.001"
    assert(Shared.lakeSchemas.keySet == Shared.LakeTables.toSet)
    for (table <- Shared.LakeTables) {
      val actual = Lake.read(spark, dir, table).schema.fields.toSeq
        .map(f => f.name -> Profiler.logicalType(f))
      assert(Shared.lakeSchemas(table) == actual, s"schema of $table")
    }
  }
}
