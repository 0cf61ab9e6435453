package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The two pieces of Spark the benchmark needs and Spark keeps
  * package-private. */
object Internals {
  /** Waits until every event posted so far (stage and SQL-execution
    * events of a finished operation) has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties the JVM-wide cache of compiled generated classes, so the next
    * query pays its code generation as in a new JVM. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
