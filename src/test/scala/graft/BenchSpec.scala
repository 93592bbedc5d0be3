package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** `Bench.sweep` reports a query that throws as a failure, never as a
  * timing: it is listed in `failed` in both artifact lines and is absent
  * from `queries`, `raw_passes` and `total`. */
class BenchSpec extends SparkSpecBase {

  test("a throwing query appears only in failed, in both bench lines") {
    val ok: Bench.Query = (s, _) => s.range(100).toDF()
    // fails at execution, the way a broken operator does; in a filter,
    // because count() would prune a failing projection unevaluated
    val boom: Bench.Query = (s, _) => s.range(1).toDF().where("raise_error('boom') IS NULL")
    val lines = Bench.sweep(spark, sfDir, Seq("ok_query" -> ok, "boom_query" -> boom))
    assert(lines.size == 2)
    val Seq(verbose, compact) = lines.map(new ObjectMapper().readTree(_))
    def keys(j: JsonNode) = j.fieldNames().asScala.toSeq
    def strings(j: JsonNode) = j.elements().asScala.map(_.asText).toSeq

    assert(strings(verbose.get("failed")) == Seq("boom_query"))
    assert(keys(verbose.get("queries")) == Seq("ok_query"))
    assert(keys(verbose.get("raw_passes")) == Seq("ok_query"))
    assert(verbose.get("value").asDouble == verbose.get("queries").get("ok_query").asDouble)

    assert(strings(compact.get("failed")) == Seq("boom"))
    assert(keys(compact.get("queries")) == Seq("ok"))
    assert(compact.get("value").asDouble == compact.get("queries").get("ok").asDouble)
  }
}
