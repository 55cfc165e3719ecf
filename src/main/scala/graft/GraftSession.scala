package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every entry point (Bench, Verify, Smoke,
  * Explain, the etl dumps, the tools) and the test suite build their
  * session here, so the program the tests pass and the program the bench
  * times plan under the same SQLConf. Callers choose only the core count;
  * a caller that needs a per-run tweak sets it with `spark.conf.set`.
  */
object GraftSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Every AQE-planned exchange starts at the fixed shuffle width and
      // coalesces to the advisory size. An interleaved A/B of a wide start
      // (1024) against this one on the one stage ever suspected of
      // partition saturation measured them identical (SCALE.md, Corpus
      // dedup, s131 RE-ATTRIBUTION: 2.91 → 14.76 s vs 2.51 → 14.06 s at
      // ×10 / ×100), so the simpler plan stays. Streaming exchanges (no
      // AQE) are unaffected either way.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Room for the compiled classes of the whole query surface (Spark
      // keeps 100), so a plan seen before skips codegen compilation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Let AQE re-plan (coalesce/skew-split) the materialization of
      // persisted frames. Spark's default pins cached-plan output
      // partitioning for consumers that rely on co-partitioning; none of
      // our operators do (every join after a persist re-shuffles or
      // broadcasts), so the pin only forces model-scale cached frames to
      // keep shuffle-width partition counts and every downstream action
      // relaunches that many tasks. AQE sizes the cached output to its
      // advisory bytes whatever the cluster width. Measured as interleaved
      // same-JVM minima (OPTIMIZATION_r16.md §6a): q147 2.21→1.39,
      // q98 1.21→0.80, q136 2.49→1.74, q117 1.90→1.20, q120 1.05→0.76,
      // q111 2.95→2.48; q126/q28 within +0.1, rest neutral.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
