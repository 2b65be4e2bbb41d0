package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Locally we run `local[N]` with `shuffle.partitions = N`; on a real
  * cluster the same builder is used with `shuffle.partitions` sized to
  * ~2-3x total cores (AQE coalesces down, so erring high is cheap).
  */
object GraftSession {

  /** Apply graft defaults to an arbitrary builder (keeps master/mem choices
    * with the caller — Verify/Bench/tests pick their own parallelism). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    // default; read as long and convert in Tables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    // Scan-split floor: maxSplitBytes = min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes/defaultParallelism)). The 4 MiB
    // openCost default means a COMPACT input (a few MB of parquet) can
    // never split below 4 MiB chunks, so a CPU-heavy stage over it
    // (regex redaction, hashing, vector math) inherits 1-2 tasks no
    // matter how many row groups the file has — measured 7x on sf1
    // t11_pii_redact (7.5s -> 1.1s). 128 KiB keeps compact inputs
    // splittable to row-group granularity; at cluster scale
    // totalBytes/parallelism >> maxPartitionBytes, so splits stay
    // 128 MiB and the only effect is denser packing of pathological
    // many-tiny-file layouts (acceptable: this engine's sources write
    // >=row-group-sized files).
    .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // Propagate sortBy metadata from bucketed scans (off by default
    // since Spark 3.0 because the required one-file-per-bucket check
    // adds listing cost for layouts that can't promise it).
    // ParquetSink.writeBucketed clusters to exactly one sorted file
    // per bucket, so here the flag turns q65-class bucketed merge
    // joins from Sort+SMJ into pure zero-Exchange zero-Sort SMJ —
    // at 100 TB that is the difference between "no shuffle" and "no
    // shuffle and no per-query re-sort of every fact partition".
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // Name whole-stage classes without the codegen stage id. AQE numbers
    // stages afresh on every run, so with the id in the name a plan that
    // runs again generates byte-identical code under a new class name,
    // misses the codegen cache and is compiled again by Janino.
    .config("spark.sql.codegen.useIdInClassName", "false")
    // Codegen cache capacity (default 100). A whole-stage class takes
    // one entry per class loader, the driver's and the executor's.
    // Working sets measured: 125 entries for d07 + q63 + t14 run in
    // turn (at 100, every round of them recompiled ~120 classes); the
    // REPL workload already fit in 100. An entry retains about 30 KB
    // of heap and 8 KB of metaspace (measured on a full cache), so a
    // full cache holds about 40 MB. Static: read once per JVM, at the
    // first codegen.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    .config("spark.ui.enabled", "false")

  /** Local session for tests / standalone runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .appName("graft")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
