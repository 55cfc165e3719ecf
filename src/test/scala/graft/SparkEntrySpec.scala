package graft

/** Driver-contract guards: catch accidental drift between `queries`,
  * `oracleSql`, and `entry` before the driver does.
  */
class SparkEntrySpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("query names are stable, unique, and well-formed") {
    val names = SparkEntry.queries.keySet
    assert(names.size >= 28)
    assert(names.forall(_.matches("q\\d+[a-z0-9_]*")), names)
  }

  test("oracle SQL contains no tab/newline-hostile control characters " +
      "that would break the driver's JSON") {
    // Verify.q escapes these, but keep SQL printable anyway
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.exists(c => c < ' ' && c != '\n'), k)
    }
  }

  test("the test session plans under the benched SQL confs") {
    val conf = spark.conf
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ==
      Some(conf.get("spark.sql.shuffle.partitions")))
  }

  test("entry is the declared flagship query on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("segment"))
    assert(df.count() > 0)
  }
}
