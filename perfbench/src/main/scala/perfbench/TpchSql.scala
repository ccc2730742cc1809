package perfbench

import org.apache.spark.sql.SparkSession

/** `tpch_sql`: one client runs the 22 TPC-H texts and the two co-join
  * texts through `Engine.executeQuery` over local parquet, in a seeded
  * order that changes every pass; every result is checked against its
  * pinned digest.
  *
  * Why: the work is Catalyst planning (including the automatic
  * semi-join reduction's selectivity probe), join and aggregate
  * execution, the derived-`partsupp` session artifact (built in the cold
  * pass) and the `hv02` probe-spread special case. It bypasses the
  * segment cache, the scan router and the object store entirely. */
final class TpchSql(dataDir: String, seed: Long) extends Workload {
  private val dir = s"$dataDir/sf0.01"
  private val pins = Sql.pinned(java.nio.file.Paths.get(dataDir, "..", "digests.json"))
  private var spark: SparkSession = _
  def session: SparkSession = spark

  def constants: Map[String, Any] = Map("data" -> "sf0.01", "texts" -> Sql.tpch.length)

  def setup(s: SparkSession): Unit = {
    // the engine registers the directory's tables on a session's first query
    graft.Engine.executeQuery(s, dir, "SELECT 1").collect()
    spark = s
  }

  def pass(passNo: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + passNo).shuffle(Sql.tpch).map { case (n, text) =>
      Op(n, () => {
        val df = Trace.span("engine")(graft.Engine.executeQuery(spark, dir, text))
        val rows = Sql.execute(df, analyzedIn = "engine")
        () => { Sql.harvest(df); Sql.check(pins, n, text, rows) }
      })
    }

  def counters(): Map[String, Double] =
    Map("sources.store_mb" -> graft.sources.MockObjectFs.bytesRead.get / 1e6)

  def regime(run: Map[String, Double]): Seq[String] =
    (if (run("sources.store_mb") == 0.0) Nil
     else Seq("tpch_sql read bytes through the object store")) ++
      (if (run.getOrElse("cache.segment_scans", 0.0) == 0.0) Nil
       else Seq("tpch_sql scanned a cached segment"))
}
