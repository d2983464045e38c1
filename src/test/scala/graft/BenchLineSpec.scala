package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The registry gate json-parses the LAST line [[Bench]] prints, from a
  * 2000-char stdout tail that also holds sbt's epilogue: the line must be
  * valid JSON within [[Bench.LineBudget]] and carry at least
  * [[Bench.MinWalls]] walls, slowest first. */
class BenchLineSpec extends AnyFunSuite {
  private val head = Seq("metric" -> "total", "value" -> 249.44, "unit" -> "sec",
    "sf" -> "/data/sf0.1", "cpus" -> 8, "wall_sec" -> 261.3, "cpu_sec" -> 728.04,
    "steal_sec" -> 3.1, "load1m" -> 2.87, "code_cache_mb" -> 412L,
    "detail" -> "bench_full.json", "failed" -> Seq("m41_incr_triangles", "a\"b\\c"))

  /** `n` walls named like the longest registry entries, in name order. */
  private def walls(n: Int): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(20261019)
    (0 until n).map(i => f"q$i%03d_weighted_pagerank_distpath_twin" -> rnd.nextDouble() * 30)
  }

  private def kept(line: String): (JsonNode, Seq[(String, Double)]) = {
    val j = new ObjectMapper().readTree(line)
    (j, j.get("queries").properties.asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble))
  }

  test("172 long-named walls: valid JSON, within budget, the slowest MinWalls or more") {
    val ws = walls(172)
    val line = Bench.compactLine(head, ws)
    assert(line.length <= Bench.LineBudget, line)
    val (j, q) = kept(line)
    assert(q.size >= Bench.MinWalls)
    assert(q.size < ws.size, "the budget must cut this registry")
    val slowest = ws.sortBy(-_._2).take(q.size)
    assert(q.map(_._1) == slowest.map(_._1))
    q.zip(slowest).foreach { case ((_, got), (_, w)) => assert(math.abs(got - w) <= 0.005) }
    assert(j.get("queries_omitted").asInt == ws.size - q.size)
    assert(j.get("value").asDouble == 249.44)
    assert(j.get("failed").asScala.map(_.asText).toSeq == Seq("m41_incr_triangles", "a\"b\\c"))
  }

  test("fewer than MinWalls walls: every wall is kept") {
    val ws = walls(7)
    val (j, q) = kept(Bench.compactLine(head, ws))
    assert(q.map(_._1) == ws.sortBy(-_._2).map(_._1))
    assert(j.get("queries_omitted").asInt == 0)
  }
}
