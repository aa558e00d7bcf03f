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
      // Generated-class cache, sized so a warm micro-batch or a repeated
      // query compiles nothing. CodeGenerator.compile caches on
      // (context classloader, source), so every whole-stage class takes
      // two slots: the driver's fallback-check compile and the task
      // thread's. One curationSink batch touches ~149 slots; at the
      // default 100 entries the LRU saw the same cycle every batch and
      // missed on every lookup, though the sources repeat byte for byte
      // (~148 compiles, 1.2-1.8 s of a ~4 s batch). With no eviction, a
      // whole perfbench JVM touches 187 slots on curation_stream and 331
      // on purl_lookup (ETL + export + serve): 512 covers the largest
      // with half again to spare, and evicted classes stay collectable.
      // The price is heap held by cached classes: curation_stream ends
      // ~6 MB (5%) fuller, while its task GC time fell.
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // AQE re-numbers stages between batches, and the stage id is in
      // the class name (GeneratedIteratorForCodegenStageN), so an
      // identical stage read as a new source. Without it the id is only
      // in a comment, which the cache key ignores.
      .config("spark.sql.codegen.useIdInClassName", "false")
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
