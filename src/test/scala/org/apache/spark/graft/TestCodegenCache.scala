package org.apache.spark.graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Test-only handle on Spark's JVM-wide cache of compiled codegen
  * classes (a private val of `CodeGenerator`), so a spec can start from
  * a cold cache whatever the suites before it compiled. The cache is
  * sized once, when first touched, from the active session's conf:
  * create the session before calling this.
  */
object TestCodegenCache {
  def clear(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
