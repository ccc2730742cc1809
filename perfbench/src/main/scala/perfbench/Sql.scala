package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Exists, Expression, InSubquery, Not}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** The SQL texts both SQL workloads run, their pinned digests, and the
  * per-query work the harness reads back from a finished query. */
object Sql extends AdaptiveSparkPlanHelper {

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing corpus resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The 22 TPC-H texts plus the two co-join texts, by digest name. */
  lazy val tpch: Seq[(String, String)] =
    (1 to 22).map(i => f"q$i%02d" -> graft.operators.TpchCorpus.sql(i)) ++
      Seq("hv01", "hv02").map(n => n -> resource(s"/graft/tpch/$n.sql"))

  /** The 13 SSB texts, by digest name. */
  lazy val ssb: Seq[(String, String)] =
    graft.operators.SsbCorpus.names.map(n => s"ssb$n" -> graft.operators.SsbCorpus.sql(n))

  /** name -> (sha256 of the text, pinned result digest), read from the
    * `digests.json` that `perfbench/digest.py` writes. */
  def pinned(path: java.nio.file.Path): Map[String, (String, String)] = {
    val texts = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(path.toFile).get("texts")
    texts.fieldNames().asScala.map { n =>
      val e = texts.get(n)
      n -> (e.get("text_sha256").asText, e.get("digest").asText)
    }.toMap
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Check one query's rows against its pinned digest. */
  def check(pins: Map[String, (String, String)], name: String, text: String,
      rows: Array[Row]): Option[String] =
    pins.get(name) match {
      case None => Some("no pinned digest")
      case Some((sha, _)) if sha != sha256(text) => Some("SQL text differs from the pinned text")
      case Some((_, want)) =>
        val got = Digest.of(rows)
        if (got == want) None else Some(s"digest $got, pinned $want")
    }

  /** Run `df` through the Catalyst phases and execution, one span each;
    * the analysis phase (already done by the caller's entry point) is
    * placed inside the span named `analyzedIn` from Catalyst's own
    * planning tracker. */
  def execute(df: DataFrame, analyzedIn: String): Array[Row] = {
    val qe = df.queryExecution
    Trace.span("catalyst.optimization")(qe.optimizedPlan)
    Trace.span("catalyst.planning")(qe.executedPlan)
    val rows = Trace.span("exec")(df.collect())
    if (Trace.enabled) qe.tracker.phases.get("analysis").foreach { p =>
      val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      Trace.synth(analyzedIn, "catalyst.analysis",
        p.startTimeMs * 1000000L - offsetNs, p.endTimeMs * 1000000L - offsetNs)
    }
    rows
  }

  private def positiveSubqueries(e: Expression, negated: Boolean): Int = e match {
    case Not(c) => positiveSubqueries(c, !negated)
    case _: Exists | _: InSubquery =>
      (if (negated) 0 else 1) + e.children.map(positiveSubqueries(_, negated)).sum
    case other => other.children.map(positiveSubqueries(_, negated)).sum
  }

  /** Semi joins the optimizer added beyond the ones that rewrite the
    * text's own EXISTS / IN subqueries — the legs of the engine's
    * automatic semi-join reduction. */
  def autoSemiLegs(analyzed: LogicalPlan, optimized: LogicalPlan): Int = {
    val semis = optimized.collectWithSubqueries {
      case j: Join if j.joinType == LeftSemi => 1
    }.sum
    val fromText = analyzed.collectWithSubqueries {
      case f: Filter => positiveSubqueries(f.condition, negated = false)
    }.sum
    math.max(0, semis - fromText)
  }

  /** Work counters of an executed plan, added to the run's counters. */
  def harvest(df: DataFrame): Unit = {
    val qe = df.queryExecution
    val plan: SparkPlan = qe.executedPlan
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
      Main.Counters.add("exec.scan_rows", metric(s, "numOutputRows"))
      Main.Counters.add("exec.scan_files", metric(s, "numFiles"))
    }
    Main.Counters.add("cache.segment_scans",
      collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m }.length)
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.foreach { b =>
      Main.Counters.add("exec.broadcast_s",
        (metric(b, "collectTime") + metric(b, "buildTime") + metric(b, "broadcastTime")) / 1e3)
    }
    Main.Counters.add("plans.auto_semi_legs", autoSemiLegs(qe.analyzed, qe.optimizedPlan))
  }
}
