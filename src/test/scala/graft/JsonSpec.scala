package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

class JsonSpec extends AnyFunSuite {

  test("a failure string with a quote, a backslash and a tab round-trips, keys in order") {
    val failure = "q: \"x\" at C:\\tmp\tthen \u0001"
    val line = Json.write(ListMap("probe" -> "p", "pass" -> false,
      "kernels" -> ListMap("k" -> ListMap("match" -> true)), "failures" -> Seq(failure)))
    assert(!line.contains("\n"))
    val back = new ObjectMapper().readTree(line)
    assert(back.get("failures").get(0).asText == failure)
    assert(back.fieldNames().asScala.toSeq == Seq("probe", "pass", "kernels", "failures"))
    assert(back.get("kernels").get("k").get("match").asBoolean)
  }
}
