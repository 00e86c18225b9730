package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.tools.Probe

/** graft.tools.Probe prints one parseable JSON line per query, with the
  * stage census for every query and the per-batch breakdown for
  * streams, and a failing query never stops the run.
  */
class ProbeSpec extends SparkSpec {

  private def probe(queries: (String, Probe.Query)*): Seq[JsonNode] = {
    val lines = Seq.newBuilder[String]
    Probe.run(spark, sf, queries)(lines += _)
    val om = new ObjectMapper()
    lines.result().map(om.readTree)
  }

  test("a batch query and a streaming query each print one line with the stage census") {
    val names = Seq("ev13_pipeline_e2e", "ev19_stream_pipeline")
    val lines = probe(names.map(n => n -> SparkEntry.queries(n)): _*)
    assert(lines.map(_.get("query").asText) === names)
    lines.foreach { l =>
      assert(!l.has("error"), l)
      assert(l.get("n_stages").asInt > 0, l)
      assert(l.get("top").size > 0, l)
      assert(l.get("single_task_hot").isArray, l)
      assert(l.get("out_rows").asLong > 0, l)
      assert(l.get("us_per_event").asDouble > 0, l)
      Seq("sec", "stage_ms", "batches", "state_rows", "state_bytes")
        .foreach(f => assert(l.has(f), s"$f missing: $l"))
    }
    val Seq(batch, stream) = lines
    assert(batch.get("batches").size === 0, batch)
    assert(stream.get("batches").size > 0, stream)
    assert(stream.get("batches").get(0).has("triggerExecution"), stream)
    // the state census: ev19's complete-mode aggregate keeps state,
    // the batch query keeps none
    assert(stream.get("state_rows").asLong > 0, stream)
    assert(stream.get("state_bytes").asLong > 0, stream)
    assert(batch.get("state_rows").asLong === -1L, batch)
    assert(batch.get("state_bytes").asLong === -1L, batch)
  }

  test("a failing query prints one escaped error line and the run goes on") {
    val lines = probe(
      "nullMessage" -> ((_, _) => throw new IllegalStateException()),
      "quotedMessage" -> ((_, _) => throw new RuntimeException("bad \"name\"\nnext line")),
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"))
    assert(lines.size === 3)
    assert(lines(0).get("error").asText === "java.lang.IllegalStateException")
    assert(lines(1).get("error").asText === "bad \"name\"\nnext line")
    assert(lines(2).get("query").asText === "q01_pricing_summary")
    assert(!lines(2).has("error"), lines(2))
  }
}
