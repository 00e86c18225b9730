package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's FINAL digest line is the only machine-readable artifact
  * the driver keeps (last ~2000 chars of output). r14 adds the full
  * per-query value array ("order":"alpha","v":[...]) so the driver's
  * per-query comparison — parsed:null for 13 straight rounds — can
  * finally run. These tests pin the three properties that matter:
  * every query's time is present in lap order, the line fits the tail
  * next to sbt's closing line, and the JSON is well-formed.
  */
class BenchDigestSpec extends AnyFunSuite {

  private def syntheticMins(n: Int, sec: Int => Double): Seq[(String, Double)] = {
    // realistic name shapes: family prefix + zero-padded index + suffix
    val fams = Seq("dd", "ev", "mm", "pk", "q", "ss", "tx")
    (0 until n).map { i =>
      val fam = fams(i % fams.length)
      (f"$fam${i / fams.length}%02d_synthetic_name", sec(i))
    }.sortBy(_._1)
  }

  test("digest carries one value per query, in the lap's alpha order") {
    val mins = syntheticMins(343, i => 0.1 + (i % 50) * 0.07)
    val line = Bench.digestJson(mins, mins.map(_._2).sum, "sf0.1")
    val v = line.split("\"v\":\\[")(1).split("\\]")(0).split(",")
    assert(v.length === 343)
    assert(line.contains("\"order\":\"alpha\""))
    // spot-check: first and last values match the first/last query after sort
    assert(math.abs(v.head.toDouble - mins.head._2) < 0.006)
    assert(math.abs(v.last.toDouble - mins.last._2) < 0.006)
  }

  test("digest fits the driver's 2000-char tail beside sbt's closing line") {
    // worst realistic lap: 343 queries, all with two non-zero decimals,
    // several in the 10+ s range
    val realistic = syntheticMins(343, i => if (i % 40 == 0) 12.34 else 1.23 + (i % 9) * 0.11)
    // degenerate lap: every query at 123.45 s overflows even at 1
    // decimal, so the digest falls back to the slowest-only shape
    val degenerate = syntheticMins(343, _ => 123.45)
    for (mins <- Seq(realistic, degenerate)) {
      val line = Bench.digestJson(mins, mins.map(_._2).sum, "sf0.1")
      // [info] prefix (7) + line + \n + "[success] ..." (~73) must be <= 2000
      assert(line.length <= 1919, s"digest too long: ${line.length}")
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(node.get("n").asInt === 343 && node.get("queries").size === 5)
    }
  }

  test("digest is well-formed JSON with the contract fields") {
    val mins = syntheticMins(343, i => if (i % 7 == 0) -1.0 else 0.5)
    val line = Bench.digestJson(mins, 100.0, "sf0.1")
    // parse with Spark's bundled Jackson — the same class of parser the
    // driver uses; a trailing-comma or unquoted-key bug fails here
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(line)
    assert(node.get("metric").asText === "total")
    assert(node.get("unit").asText === "sec")
    assert(node.get("n").asInt === 343)
    assert(node.get("sf").asText === "sf0.1")
    assert(node.get("v").size === 343)
    assert(node.get("queries").size === 5)
    // failed queries keep their -1 sentinel in the array
    assert(node.get("v").get(0).asDouble === -1.0)
  }

  test("value trimming: 2-decimal rounding with trailing zeros dropped") {
    val mins = Seq(("a01_x", 0.304), ("a02_x", 9.499), ("a03_x", 1.004), ("a04_x", 0.336))
    val line = Bench.digestJson(mins, 11.1, "sf0.01")
    assert(line.contains("\"v\":[0.3,9.5,1,0.34]"), line)
  }
}
