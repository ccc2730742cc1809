package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session factory with the engine's tuned defaults.
  *
  * The reference tunes an actor engine (parallel degree, 100k-row buffers,
  * 15MB S3 ranges — `fpdb-executor/include/fpdb/executor/physical/Globals.h`);
  * the Spark-native equivalents are shuffle partitioning, AQE, and runtime
  * bloom filters (predicate transfer, SURVEY.md §4.1). These settings are the
  * ones that transfer to a real cluster: on 1000 executors only `master` and
  * the partition counts change.
  *
  * Two more settings size JVM-side state to the engine's own working set
  * (measured with perfbench on 4 cores, local[4], sf0.01):
  *
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]):
  *    Spark keeps Janino-compiled whole-stage classes in one JVM-wide LRU
  *    of 100 entries by default. One TPC-H pass generates about 390
  *    distinct classes and one SSB hybrid pass about 380, so a recurring
  *    workload evicted every class before its next use: 445 compilations
  *    in the first TPC-H pass and about 365 in every later one. With the
  *    cache holding the set, the second pass compiles 4 and the third 0,
  *    and warm task CPU per query more than halves (0.19 → 0.08 s).
  *    One session running all three perfbench workloads compiled 860
  *    distinct classes. Each cached class keeps about 25 KB of heap with
  *    its bytecode (773 entries held 19.3 MB).
  *  - `spark.ui.retainedJobs` / `retainedStages` / `retainedTasks` and
  *    `spark.sql.ui.retainedExecutions` ([[StatusRetained]]): the status
  *    store keeps 1000 or more of each, plan descriptions and metric
  *    graphs included, for a UI the engine disables; nothing in the
  *    engine reads it (its listeners are its own). The bound gives back
  *    part of the heap the larger codegen cache holds: after a TPC-H run,
  *    live heap was 102.3 MB at the defaults, 99.2 MB at 50 and 97.5 MB
  *    at 20, against 94.4 MB with Spark's 100-entry codegen cache.
  */
object GraftSession {

  /** Codegen cache capacity: the 860 classes of the three perfbench
    * workloads in one session with ~20% headroom, about 25 MB of heap
    * when full. Static and JVM-global: the first session created in the
    * JVM sizes the cache for the JVM's lifetime. */
  val CodegenCacheEntries = 1024

  /** Jobs, stages, tasks per stage and SQL executions the status store
    * keeps. */
  val StatusRetained = 20

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String, cpus: Int = defaultParallelism): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE skew-join split: the scale path for skewed join keys.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Predicate transfer, single-hop: runtime bloom filter injection
      // (reference: BloomFilterCreate/UsePOp, SURVEY.md §2.2).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
      // Cost-based optimization incl. stats-driven join reordering — the
      // Spark-native analog of the reference's Calcite heuristic join
      // ordering over its own row-count metadata
      // (fpdb-calcite/java/.../Optimizer.java:156-175, FPDBRelMdRowCount).
      // Both confs are inert until a relation carries catalog statistics:
      // the corpus entries read parquet through temp views (no rowCount),
      // so their plans are unchanged; tables registered in the catalog
      // and ANALYZEd get cost-ordered joins regardless of the FROM
      // clause's declared order (pinned by CboReorderSpec on the
      // reference's own Q5/Q9 join-order variant pairs).
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.retainedJobs", StatusRetained.toString)
      .config("spark.ui.retainedStages", StatusRetained.toString)
      .config("spark.ui.retainedTasks", StatusRetained.toString)
      .config("spark.sql.ui.retainedExecutions", StatusRetained.toString)
      .config("spark.driver.host", "127.0.0.1")
      // managed (bucketed) tables land outside the repo checkout
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      // one shared catalog across thrift-server JDBC connections (the
      // reference's server model: N client sessions, one engine —
      // `fpdb-main/src/Server.cpp`). Static conf, so it lives here: a
      // [[graft.Server]] mounted on any engine session serves that
      // session's views to every connection. Inert without the server.
      .config("spark.sql.hive.thriftServer.singleSession", "true")

  /** Surfaces the engine's observed metrics (e.g. the LSH bucket-cap drop
    * counters `graft.lsh.cap*` from `Dedup.bucketPairs`) in the log: a
    * dropped bucket is a recall trade the operator made silently at plan
    * level, so the run must say so. */
  private final class GraftMetricsListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft.lsh.cap") && row.getAs[Long]("dropped_buckets") > 0L)
          org.slf4j.LoggerFactory.getLogger("graft.lsh").warn(
            s"$name: dropped ${row.getAs[Long]("dropped_buckets")} LSH bucket(s) " +
              s"over the size cap (largest seen: ${row.getAs[Int]("max_bucket_size")}); " +
              "pairs meeting only in dropped buckets are lost (recall trade)")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // getOrCreate can hand back the same session many times; register once.
  private val listened = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def get(appName: String, cpus: Int = defaultParallelism): SparkSession = {
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (listened.add(spark)) spark.listenerManager.register(new GraftMetricsListener)
    spark
  }
}
