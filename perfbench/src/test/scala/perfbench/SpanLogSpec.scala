package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class SpanLogSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("the record encoder writes Scala maps, sequences and options") {
    val n = mapper.readTree(SpanLog.json.writeValueAsString(
      Map("a" -> Seq(1, 2L, 0.5), "b" -> None, "c" -> Some("x\"y\n"), "d" -> true)))
    assert(n.get("a").size == 3 && n.get("a").get(2).asDouble == 0.5)
    assert(n.get("b").isNull)
    assert(n.get("c").asText == "x\"y\n")
    assert(n.get("d").asBoolean)
  }

  test("spans get increasing ids and keep their parents") {
    val log = new SpanLog
    val root = log.add(None, "pass", "pass", "bench", 0L, 100L)
    val child = log.add(Some(root), "batch0", "trigger", "streaming.runtime", 10L, 50L)
    val (v, ms) = log.timed(Some(child), "batch0", "probe", "functions")(42)
    val spans = log.all
    assert(v == 42 && spans.map(_.id) == Seq(root, child, child + 1))
    assert(spans.map(_.parent) == Seq(None, Some(root), Some(child)))
    assert(spans.last.endMs - spans.last.startMs == ms)
  }

  test("write emits one JSON object per span with the fields the metrics read") {
    val log = new SpanLog
    val root = log.add(None, "pass", "pass", "bench", 0L, 100L)
    log.add(Some(root), "batch3", "job", "spark", 20L, 30L, Map("tasks" -> 4, "cpu_ns" -> 7L))
    val dir = Files.createTempDirectory("spanlog")
    val out = dir.resolve("spans/out.jsonl")
    log.write(out)
    val lines = Files.readAllLines(out).asScala.toList
    assert(lines.size == 2)
    val job = mapper.readTree(lines(1))
    Seq("id", "parent", "trace", "name", "layer", "start_ms", "end_ms", "attrs")
      .foreach(k => assert(job.has(k), k))
    assert(mapper.readTree(lines.head).get("parent").isNull)
    assert(job.get("parent").asInt == root)
    assert(job.get("attrs").get("tasks").asInt == 4)
    Files.delete(out); Files.delete(out.getParent); Files.delete(dir)
  }

  test("the addBatch span ends where commitOffsets begins") {
    val b = BatchRecord("q", 3L, 1000L,
      Map("triggerExecution" -> 500L, "addBatch" -> 400L, "commitOffsets" -> 30L), 10L)
    assert(b.endMs == 1500L)
    assert(b.addBatchSpan == (1070L, 1470L))
  }
}
