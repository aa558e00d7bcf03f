package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical session settings for the engine. Applied by Verify/Bench/tests;
  * a production cluster deploy would set the same keys in spark-defaults.
  */
object Sessions {

  /** Engine-required + scale-oriented session configs:
    *   - nanosAsLong: read parquet TIMESTAMP(NANOS) (events table);
    *   - AQE on (runtime coalescing, skew-join split — the 100 TB path);
    *   - partition sizing tuned so local[32] ≈ one partition per core while
    *     cluster runs inherit sane file-split sizes.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Whole-stage-codegen class cache: MEASURED, then left at the
      // default 100. The r19 probe counted ~1,800 janino compilations
      // per bench close (identical sources re-compiled across
      // micro-batches/reps), so a 4096-entry cache was tried: it did
      // eliminate the recompiles (codegen_n → 0 in the warm rep,
      // BENCH_R19OPT_A.json) but that full run read ~2× slower with
      // 10-30× task GC — partially confounded by a VM ambient-noise
      // phase the same session later proved can inflate identical code
      // 4× (round 4 of the same-JVM sink A/B in
      // src/main/scala/graft/tools/R19AbProbe.scala at git 83574e8:
      // old == new once the burst passed), but
      // the GC/metaspace direction of a 4096-class pin is real and the
      // compile saving is bounded (~10-20 ms × ~1,800 ≈ well under 10%
      // of a close). Default kept: eviction keeps generated classes
      // collectable, and the risk/reward is upside-down.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")

  def local(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = configure(SparkSession.builder().appName(appName).master(s"local[$cpus]"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
