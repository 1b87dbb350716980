package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.core.GraftSession

/** Every graft session in a JVM shares one generated-class cache, sized
  * to hold a run's working set (see [[graft.core.GraftSession]]): a
  * repeated run, in its own session or in a new one, compiles none of the
  * classes an earlier run compiled. Compiles are Spark's own count
  * (`CodegenMetrics`); this suite runs in the forked test JVM, whose first
  * session comes from `GraftSession.builder`. */
class CodegenReuseSpec extends SparkSpecBase {

  /** What a repeated run may compile: adaptive execution can plan a stage
    * of a run differently from the previous run, which generates a few
    * classes no earlier run did (0-8 per run measured). A run generates
    * more than 100, and recompiles all of them without the shared cache. */
  private val NewClasses = 20

  /** Calls the no-argument method `name` of Spark's generated-class
    * cache, which is private to `CodeGenerator`. The session is built
    * first: the cache's bound is read when `CodeGenerator` is first used. */
  private def cache(name: String): AnyRef = {
    spark
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val c = get.invoke(CodeGenerator)
    c.getClass.getMethod(name).invoke(c)
  }

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compiling[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def counts(stages: Seq[(String, Long, Double)]) = stages.map(s => (s._1, s._2))

  test("the session conf reports the cache bound and shared classloader, in new sessions too") {
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
        GraftSession.CodegenCacheEntries.toString)
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    }
  }

  test("a second pipeline run in the same session recompiles no class, past the default bound") {
    // from an empty cache the first run compiles each of its classes once,
    // and they all stay cached: more than Spark's default 100-entry bound
    cache("invalidateAll")
    val (first, compiled) = compiling(Pipeline.run(spark, Sf))
    assert(compiled > 100, s"the run should generate > 100 classes, compiled $compiled")
    assert(cache("size") == compiled, s"cached ${cache("size")} of $compiled compiled classes")
    // each class the second run compiles is added: none was evicted and
    // compiled again
    val (again, added) = compiling(Pipeline.run(spark, Sf))
    assert(added <= NewClasses, s"the second run compiled $added classes")
    assert(cache("size") == compiled + added, s"cached ${cache("size")} of ${compiled + added}")
    assert(counts(again) == counts(first))
  }

  test("the same run in spark.newSession() compiles almost nothing") {
    val first = Pipeline.run(spark, Sf)
    val (other, compiled) = compiling(Pipeline.run(spark.newSession(), Sf))
    assert(compiled <= NewClasses, s"a new session compiled $compiled classes")
    assert(counts(other) == counts(first))
  }
}
