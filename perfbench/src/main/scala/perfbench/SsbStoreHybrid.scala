package perfbench

import org.apache.spark.sql.SparkSession

import graft.cache.{LRU, SegmentCache}
import graft.cache.HybridScan.{AdaptiveScanRouter, ModeHybrid}
import graft.sources.MockObjectFs

/** `ssb_store_hybrid`: one client runs the 13 SSB texts, flight by
  * flight in a seeded order that changes every pass, through
  * `ModeExec.runQueryMode(..., ModeHybrid, router)`. One router serves every query, over a segment
  * cache smaller than the workload's segment working set, and every
  * table is read through the throttled `mockfs:` object store.
  *
  * Why: this is the paper's regime — per-scan routing, cache admission
  * and eviction, the hybrid zip and the bytes billed at the store do the
  * work. It bypasses the derived session artifacts and the training-data
  * operators.
  *
  * One client, not one per core: with concurrent clients the order in
  * which the per-session mode lock admits them decides which segments
  * the cache admits and evicts, and the work per pass then varied by
  * 30-50% between seeds. */
final class SsbStoreHybrid(dataDir: String, seed: Long) extends Workload {
  /** Store bandwidth per stream and first-byte latency per open. */
  val StreamBytesPerSec: Long = 8L << 20
  val OpenLatencyMs = 2L
  /** Well below the segment working set (all of it stays resident at
    * 1.2 MB), so every pass reloads much the same segments whatever its
    * order: over three seeds the warm misses per query were 3.0-3.15
    * here, against 0.4-1.2 at 900 KB, where the order decided what
    * stayed resident. */
  val CacheBytes: Long = 450L * 1000
  val PushdownSlots = 8

  private val pins = Sql.pinned(java.nio.file.Paths.get(dataDir, "..", "digests.json"))
  private var spark: SparkSession = _
  def session: SparkSession = spark
  private var store: String = _
  private var cache: SegmentCache = _
  private var router: AdaptiveScanRouter = _

  def constants: Map[String, Any] = Map("data" -> "sf0.01", "texts" -> Sql.ssb.length,
    "store_stream_bytes_per_s" -> StreamBytesPerSec,
    "store_open_latency_ms" -> OpenLatencyMs, "cache_bytes" -> CacheBytes,
    "cache_policy" -> "LRU", "pushdown_slots" -> PushdownSlots)

  def setup(s: SparkSession): Unit = {
    MockObjectFs.bytesPerSec = StreamBytesPerSec
    MockObjectFs.openLatencyMs = OpenLatencyMs
    store = graft.sources.StoreScheme.mount(s, s"$dataDir/sf0.01")
    // the engine registers the store's tables on a session's first query
    graft.Engine.executeQuery(s, store, "SELECT 1").collect()
    cache = new SegmentCache(CacheBytes, LRU)
    router = new AdaptiveScanRouter(cache, pushdownSlots = PushdownSlots)
    spark = s
  }

  /** The texts by SSB flight (q1.x, ..., q4.x), in flight order. */
  private val flights: Seq[Seq[(String, String)]] =
    Sql.ssb.groupBy(_._1.takeWhile(_ != '_')).toSeq.sortBy(_._1).map(_._2)

  /** A pass runs the flights in a seeded order, each flight's texts
    * together in a seeded order: a flight's queries read the same
    * segments, so the misses per pass do not hang on how the shuffle
    * happened to interleave flights (a shuffle of all 13 texts moved the
    * warm misses per query between 0.8 and 1.9 from seed to seed). */
  def pass(passNo: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + passNo)
    rng.shuffle(flights).flatMap(f => rng.shuffle(f)).map {
      case (n, text) =>
        Op(n, () => {
          val entered = System.nanoTime()
          var df: org.apache.spark.sql.DataFrame = null
          val rows = Trace.span("plans.runQueryMode") {
            graft.plans.ModeExec.runQueryMode(spark, store, text, ModeHybrid, router) { d =>
              Main.Counters.add("plans.mode_enter_s", Main.secs(entered))
              val t0 = System.nanoTime()
              try {
                df = d
                Sql.execute(d, analyzedIn = "plans.runQueryMode")
              } finally Main.Counters.add("plans.mode_exec_s", Main.secs(t0))
            }
          }
          () => { Sql.harvest(df); Sql.check(pins, n, text, rows) }
        })
    }
  }

  def counters(): Map[String, Double] = {
    val (opens, bytes, reads, lists) = MockObjectFs.snapshot()
    Map(
      "cache.hits" -> cache.hits.toDouble,
      "cache.misses" -> cache.misses.toDouble,
      "cache.evictions" -> cache.evictions.toDouble,
      "cache.used_mb" -> cache.usedBytes / 1e6,
      "cache.routes_pushdown" -> router.pushdowns.toDouble,
      "cache.routes_pullup" -> router.pullups.toDouble,
      "cache.routes_cache_only" -> router.cacheOnlys.toDouble,
      "cache.routes_hybrid" -> router.hybrids.toDouble,
      "cache.over_budget" -> router.overBudget.toDouble,
      "sources.store_mb" -> bytes / 1e6,
      "sources.store_opens" -> opens.toDouble,
      "sources.store_reads" -> reads.toDouble,
      "sources.store_lists" -> lists.toDouble)
  }

  override def gauges: Set[String] = Set("cache.used_mb")

  def regime(run: Map[String, Double]): Seq[String] =
    (if (run("cache.evictions") > 0) Nil else Seq("ssb_store_hybrid evicted no segment")) ++
      (if (run("cache.routes_hybrid") > 0) Nil else Seq("ssb_store_hybrid routed no scan hybrid"))
}
