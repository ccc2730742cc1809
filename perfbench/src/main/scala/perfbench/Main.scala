package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop operation. `run` does the timed work and returns the
  * result check, which the harness runs after the clock stops: it
  * returns None when the result is correct, or the reason it is not. */
final case class Op(kind: String, run: () => () => Option[String])

/** A benchmark workload: what its one closed-loop client does per pass,
  * and the layer counters the harness reads from outside the program. */
trait Workload {
  /** Fixed constants of the workload, recorded with every result. */
  def constants: Map[String, Any]
  /** Build the workload's state on `spark`, the session its passes use. */
  def setup(spark: SparkSession): Unit
  /** The session [[setup]] prepared. */
  def session: SparkSession
  /** The operations of one pass, in the seeded order. */
  def pass(passNo: Int): Seq[Op]
  /** Cumulative layer counters; the harness reports their change over
    * the warm passes, per warm operation unless named in [[gauges]]. */
  def counters(): Map[String, Double]
  /** Counter names reported as their value at the end of the run. */
  def gauges: Set[String] = Set.empty
  /** Checks made after the warm passes; each returned string is a
    * result the workload got wrong. `warm` holds the counter deltas. */
  def verify(warm: Map[String, Double]): Seq[String] = Nil
  /** Ways the run left the workload's intended regime; `run` holds the
    * counters' change over the cold and warm passes. */
  def regime(run: Map[String, Double]): Seq[String]
}

/** Run one workload for a fixed time and write its result record (JSON)
  * to `--out`; `perfbench/run.py` turns it into the benchmark's output.
  *
  * The protocol, for every workload: start the session and set the
  * workload up on it (`setup_s` runs from JVM start until the set-up
  * returns); run one cold pass; then warm passes until `--seconds` have
  * elapsed, a new pass starting only while time remains, so every run's
  * mix of operations is the same. With `--trace 1` every warm operation
  * is traced. */
object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Registry of counters the workloads add to from inside operations. */
  object Counters {
    private val m = scala.collection.mutable.HashMap.empty[String, Double]
    def add(name: String, v: Double): Unit = m(name) = m.getOrElse(name, 0.0) + v
    def snapshot(): Map[String, Double] = m.toMap
  }

  /** Seconds elapsed on the harness clock. */
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  private def workload(name: String, dataDir: String, seed: Long): Workload =
    name match {
      case "tpch_sql"         => new TpchSql(dataDir, seed)
      case "ssb_store_hybrid" => new SsbStoreHybrid(dataDir, seed)
      case "dedup_ingest"     => new DedupIngest(dataDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val dataDir = arg(args, "data")
    val outPath = java.nio.file.Paths.get(arg(args, "out"))
    val spansPath = java.nio.file.Paths.get(arg(args, "spans"))

    val rt = ManagementFactory.getRuntimeMXBean
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.get("perfbench", cores)
    val listener = new ExecListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    def sinceJvmStart(): Double = (System.currentTimeMillis() - rt.getStartTime) / 1e3
    val sessionS = sinceJvmStart()
    val w = workload(workloadName, dataDir, seed)
    w.setup(spark)
    val setupS = sinceJvmStart()

    var attempted = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    final case class Sample(kind: String, pass: Int, startNs: Long, endNs: Long) {
      def secs: Double = Main.secs(startNs, endNs)
    }
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]

    def runOp(op: Op, passNo: Int, warm: Boolean): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      val check: () => Option[String] =
        try Trace.op(op.kind)(op.run())
        catch { case e: Throwable => () => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t1 = System.nanoTime()
      val err = try check() catch { case e: Throwable => Some(s"check threw $e") }
      err.foreach(m => failures += s"${op.kind} (pass $passNo): ${m.take(300)}")
      if (warm) samples += Sample(op.kind, passNo, t0, t1)
    }

    /** Run passes from `first` on; when `deadline` is set, passes after
      * the first start only before it, otherwise only `first` runs. */
    def runPasses(first: Int, deadline: Option[Long]): Unit = {
      var passNo = first
      while (passNo == first || deadline.exists(System.nanoTime() < _)) {
        w.pass(passNo).foreach(op => runOp(op, passNo, warm = deadline.nonEmpty))
        passNo += 1
      }
    }

    val liveBefore = graft.util.SessionCache.totalLiveEntries(w.session)
    val countersStart = w.counters() ++ Counters.snapshot()
    val cold0 = System.nanoTime()
    runPasses(0, None)
    val coldS = secs(cold0)

    listener.open()
    val counters0 = w.counters() ++ Counters.snapshot()
    val gc0 = gcMillis()
    val warm0 = System.nanoTime()
    Trace.enabled = trace
    runPasses(1, Some(warm0 + (seconds * 1e9).toLong))
    Trace.enabled = false
    val warmS = secs(warm0)
    listener.close()
    val warmGcS = (gcMillis() - gc0) / 1e3
    val counters1 = w.counters() ++ Counters.snapshot()

    val all = samples.toSeq
    val warmOps = all.length
    val delta = counters1.map { case (k, v) =>
      k -> (if (w.gauges.contains(k)) v else v - counters0.getOrElse(k, 0.0))
    }
    failures ++= w.verify(delta)
    val violations = w.regime(counters1.map { case (k, v) => k -> (v - countersStart.getOrElse(k, 0.0)) })

    val heapMb = liveHeapMb()

    val lat = all.map(_.secs)
    val p90 = Stats.quantile(lat, 0.9)
    val kinds = all.groupBy(_.kind).values.map(xs => Stats.median(xs.map(_.secs))).toSeq
    val perOp = delta.map { case (k, v) => k -> (if (w.gauges.contains(k)) v else v / warmOps) }
    val execCounters = Map(
      "exec.tasks" -> listener.tasks.get.toDouble / warmOps,
      "exec.task_cpu_s" -> listener.cpuNs.get / 1e9 / warmOps,
      "exec.task_run_s" -> listener.runMs.get / 1e3 / warmOps,
      "exec.gc_s" -> listener.gcMs.get / 1e3 / warmOps,
      "exec.shuffle_write_mb" -> listener.shuffleWriteBytes.get / 1e6 / warmOps,
      "exec.spill_mb" -> listener.spillBytes.get / 1e6 / warmOps,
      "exec.core_util" -> listener.runMs.get / 1e3 / (warmS * cores))
    val liveEnd = graft.util.SessionCache.totalLiveEntries(w.session)
    val artifacts = Map("util.artifacts_built" -> (liveEnd - liveBefore).toDouble,
      "util.artifacts_live" -> liveEnd.toDouble)
    val failed = failures.size.toLong

    if (trace) Trace.writeJsonl(spansPath)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val result = Seq(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "cores" -> cores, "constants" -> w.constants,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(20).toSeq,
      "regime_violations" -> violations,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "cold_pass_s" -> coldS,
        "ops_per_s" -> warmOps / warmS,
        "latency_p50_s" -> Stats.median(lat),
        "latency_p90_s" -> p90,
        "query_geomean_s" -> Stats.geomean(kinds),
        "failed_frac" -> failed.toDouble / attempted,
        "live_heap_mb" -> heapMb),
      "samples" -> Map(
        "warm_ops" -> warmOps,
        "beyond_p90" -> lat.count(_ > p90),
        "kinds" -> kinds.length,
        "warm_s" -> warmS,
        "pass_s" -> all.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, xs) =>
          secs(xs.map(_.startNs).min, xs.map(_.endNs).max) },
        "session_s" -> sessionS),
      "layers" -> (perOp ++ execCounters ++ artifacts),
      "spans" -> (if (trace) Trace.count else 0),
      "covariates" -> Map(
        "loadavg_end" -> osBean.getSystemLoadAverage,
        "process_cpu_s" -> osBean.getProcessCpuTime / 1e9,
        "gc_s" -> gcMillis() / 1e3,
        "warm_gc_s" -> warmGcS,
        "jvm_uptime_s" -> rt.getUptime / 1e3))
    val line = Json.obj(result)
    java.nio.file.Files.write(outPath, line.getBytes("UTF-8"))
    spark.stop()
  }

  /** Heap in use once garbage collection stops freeing anything: Spark's
    * context cleaner releases broadcast and shuffle state only after a
    * collection has found the owning objects unreachable, so one forced
    * collection is not enough. */
  private def liveHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (rounds < 8 && math.abs(cur - prev) > prev / 100) { prev = cur; cur = used(); rounds += 1 }
    cur / 1e6
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
