package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case d: Double if d.isNaN || d.isInfinite => java.lang.Double.valueOf(0.0)
    case d: Double => java.lang.Double.valueOf(d)
    case s: Seq[_] => s.map(toJava).asJava
    case Obj(kvs) =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      kvs.foreach { case (k, x) => m.put(k, toJava(x)) }
      m
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  final case class Obj(kvs: Seq[(String, Any)])

  def obj(kvs: Seq[(String, Any)]): String = mapper.writeValueAsString(toJava(Obj(kvs)))
}
