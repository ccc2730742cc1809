package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Whole-stage codegen compiles each generated class once per engine
  * JVM: [[GraftSession.CodegenCacheEntries]] holds a full TPC-H pass's
  * classes, where Spark's default cap of 100 evicted every class before
  * its next use and the second pass recompiled them all. */
class CodegenReuseSpec extends SparkSpec {

  /** sf0.01, next to the specs' sf0.001: enough rows that every TPC-H
    * text plans its real joins. */
  private val dir = new java.io.File(sfDir).getParent + "/sf0.01"

  /** Spark's JVM-wide compiled-class cache (`CodeGenerator.cache`,
    * private): sized once, from the conf in effect when it is first
    * used, so the spec reads the capacity it really has. */
  private def codegenCache: AnyRef = {
    val cls = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val m = cls.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(cls.getField("MODULE$").get(null))
  }

  private def field(o: AnyRef, name: String): AnyRef = {
    var c: Class[_] = o.getClass
    while (c.getDeclaredFields.forall(_.getName != name)) c = c.getSuperclass
    val f = c.getDeclaredField(name)
    f.setAccessible(true)
    f.get(o)
  }

  private def capInEffect: Long = {
    val guava = codegenCache.getClass.getMethod("cache").invoke(codegenCache)
    field(field(guava, "localCache"), "maxWeight").asInstanceOf[Long]
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second TPC-H pass reuses every class the first one compiled") {
    val s = spark.newSession()
    val texts = (1 to 22).map(operators.TpchCorpus.sql)
    def pass(): Long = {
      val before = compiles
      texts.foreach(t => Engine.executeQuery(s, dir, t).collect())
      compiles - before
    }
    val cap = capInEffect
    assert(cap == GraftSession.CodegenCacheEntries,
      s"codegen cache capacity is $cap, not the ${GraftSession.CodegenCacheEntries} GraftSession.builder sets")
    // earlier suites may have compiled some of these classes already
    codegenCache.getClass.getMethod("invalidateAll").invoke(codegenCache)
    val first = pass()
    assert(first > 100,
      s"first pass compiled $first classes; at Spark's default cap of 100 it must not fit")
    assert(first <= cap, s"first pass compiled $first classes, over the cap of $cap")
    val second = pass()
    assert(second <= 5, s"second pass recompiled $second of the first pass's $first classes")
  }
}
