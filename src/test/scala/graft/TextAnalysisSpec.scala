package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}

import graft.operators.TextAnalysis

/** `spark.graft.tfidf.broadcastVocab` parses tolerantly: only "false"
  * (any case) turns t07's vocabulary broadcast off, and no value fails
  * the query at plan time. */
class TextAnalysisSpec extends SparkSpec {

  test("t07 broadcastVocab: only a case-insensitive false turns the hint off") {
    val s = spark.newSession()
    val key = "spark.graft.tfidf.broadcastVocab"
    def broadcastsVocab(): Boolean = {
      val df = SparkEntry.queries("t07_tfidf")(s, sfDir)
      df.collect()
      // the corpus-size cross join is always broadcast; look for the
      // hinted equi-join on the word key
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.nonEmpty && j.hint != JoinHint.NONE => j
      }.nonEmpty
    }
    assert(TextAnalysis.broadcastVocab(s) && broadcastsVocab(), "unset: default on")
    Seq("FALSE", "false", " False ").foreach { v =>
      s.conf.set(key, v)
      assert(!TextAnalysis.broadcastVocab(s), s"'$v' must turn the hint off")
    }
    assert(!broadcastsVocab(), "off: the vocabulary join is left to the planner")
    Seq("true", "1", "on", "garbage", "").foreach { v =>
      s.conf.set(key, v)
      assert(TextAnalysis.broadcastVocab(s), s"'$v' must keep the default")
    }
    s.conf.set(key, "on")
    assert(broadcastsVocab(), "'on' keeps the broadcast and does not fail t07")
  }
}
