package org.apache.spark.sql.catalyst.expressions.codegen

import scala.jdk.CollectionConverters._

/** The generated sources held in Spark's class cache. The cache is
  * private to `CodeGenerator`; specs that ask which classes a request
  * compiled read its keys here (a key is the class loader and the
  * source).
  */
object CodegenCacheProbe {
  def sources(): Set[String] = {
    val outer = CodeGenerator.getClass.getDeclaredField("cache")
    outer.setAccessible(true)
    val holder = outer.get(CodeGenerator)
    // Spark's non-fate-sharing wrapper keeps the Guava cache in a field
    // of its superclass
    val inner = Iterator.iterate[Class[_]](holder.getClass)(_.getSuperclass)
      .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == "cache").get
    inner.setAccessible(true)
    val guava = inner.get(holder)
    val asMap = guava.getClass.getInterfaces.iterator
      .flatMap(i => scala.util.Try(i.getMethod("asMap")).toOption).next()
    asMap.invoke(guava).asInstanceOf[java.util.Map[AnyRef, AnyRef]].keySet.asScala
      .collect { case (_, c: CodeAndComment) => c.body }.toSet
  }
}
