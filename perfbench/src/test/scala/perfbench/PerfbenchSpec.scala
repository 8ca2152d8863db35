package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.wildweb.{WildWebConfig, WildWebPipeline}

/** Self-tests of the benchmark harness. Run with
  * `python3 perfbench/run.py --self-test` (or `sbt test` in perfbench/). */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val mapper = new ObjectMapper()
  private val bench = mapper.readTree(Paths.get("..", "BENCHMARK.json").toFile)
  private def declared(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  private lazy val work = Files.createDirectories(Paths.get(".work", "spec").toAbsolutePath)
  /** A session whose mix check reads a planted expected-digest file. */
  private lazy val ctx = {
    val c = new Ctx(Opts(cpus = 2, root = "..", data = "data/sf0.1", work = work.toString,
      expected = work.resolve("digests.json").toString))
    c.build()
    c
  }

  override def afterAll(): Unit = {
    if (ctx.spark != null) ctx.spark.stop()
    Files.walk(work).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
  }

  test("op_tail_s: the highest percentile with ten samples beyond it, else the maximum") {
    assert(Stats.tailPerMille(19) === None)
    assert(Stats.tailPerMille(20) === Some(500))
    assert(Stats.tailPerMille(39) === Some(500))
    assert(Stats.tailPerMille(40) === Some(750))
    assert(Stats.tailPerMille(100) === Some(900))
    assert(Stats.tailPerMille(199) === Some(900))
    assert(Stats.tailPerMille(200) === Some(950))
    assert(Stats.tailPerMille(1000) === Some(990))
    assert(Stats.tailPerMille(10000) === Some(999))
    // 40 samples: p75 sits between the 30th and 31st, ten samples above it
    assert(Stats.tail((1 to 40).reverse.map(_.toDouble)) === ("p75", 30.25))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) === ("max", 3.0))
  }

  test("every end-to-end metric is printed by name with its declared unit") {
    val ops = Seq(
      OpResult("operators", "a", 0.5, ok = true, 1L, Map.empty),
      OpResult("llm", "b", 1.5, ok = true, 1L, Map.empty))
    val passes = Seq(Pass(ops, 2.0, wallS = 2.5), Pass(ops, 2.0, wallS = 3.5))
    val line = Main.resultLine(correct = true, 4, 0, Main.endToEnd(Seq(1.0, 4.0, 2.0), passes, 512.0, HostSpeed.ReferenceS))
    val result = mapper.readTree(line)
    assert(result.fieldNames().asScala.toSeq === Seq("correct", "attempted", "failed", "metrics"))
    val metrics = result.get("metrics")
    assert(metrics.fieldNames().asScala.toSeq === declared("end_to_end").map(_._1))
    for ((name, unit) <- declared("end_to_end")) {
      assert(metrics.get(name).get("unit").asText() === unit, name)
      assert(metrics.get(name).get("value").isNumber, name)
    }
    assert(metrics.get("setup_s").get("value").asDouble() === 2.0)
    assert(metrics.get("wall_s").get("value").asDouble() === 3.0)
    // on a host twice as slow as the reference, times read half
    val slow = Main.endToEnd(Seq(1.0, 4.0, 2.0), passes, 512.0, 2 * HostSpeed.ReferenceS)
      .map { case (n, v, _) => n -> v }.toMap
    assert(slow("setup_s") === 1.0)
    assert(slow("op_p50_s") === 0.5)
    assert(slow("items_per_s") === 2.0)
    assert(slow("retained_heap_mb") === 512.0)
  }

  test("every per-layer metric is printed by name with its declared unit") {
    val c = new Ctx(Opts())
    c.work = new WorkListener
    c.plans = new PlanListener
    assert(Layers(c, Seq.empty, Seq.empty, 3.0, HostSpeed.ReferenceS).map { case (n, _, u) => n -> u } ===
      declared("per_layer"))
  }

  test("digest numbers round to nine significant digits of the exact binary value") {
    assert(Digest.number(0.1) === "0.1")
    assert(Digest.number(-0.0) === "0")
    assert(Digest.number(1e-7) === "0.0000001")
    assert(Digest.number(123456789012.0) === "123456789000")
    assert(Digest.number(2.0000000049999) === "2")
    assert(Digest.number(Double.NaN) === "\\N")
  }

  test("a planted wrong feature, a dropped feature or a wrong quarantine fails the ingest check") {
    val (centers, expected) = IngestData.generate(7L, centers = 3, perCenter = 300)
    val dir = Files.createDirectories(work.resolve("ingest-spec"))
    centers.filter(_.status == 200).foreach(c => Files.write(dir.resolve(c.name + ".json"), c.body))
    val WildWebPipeline.Completed(features, errors) = WildWebPipeline.run(ctx.spark,
      dir.toString, WildWebConfig(IngestData.Range, IngestData.Now))
    val body = WildWebPipeline.featureCollectionJson(features)
    val runQuarantine = errors.collect().map(_.getString(0)).toSeq
    def verify(b: String, rq: Seq[String] = runQuarantine) =
      IngestData.verify(b.getBytes(UTF_8), expected, expected.fetchQuarantine, rq)

    assert(verify(body) === Right(expected.features.size.toLong))
    assert(body.contains("\"coordinates\":[-"))
    // one longitude left un-negated
    assert(verify(body.replaceFirst("\"coordinates\":\\[-", "\"coordinates\":[")).isLeft)
    // the last feature dropped
    val last = body.lastIndexOf(",{\"id\":")
    assert(verify(body.substring(0, last) + "]}").isLeft)
    assert(verify(body, rq = Seq.empty).isLeft)

    // the sink's check: a repeat of a verified body passes without a full
    // verification, and every other body is still verified in full
    val sink = new SinkCheck(expected)
    def check(b: String, rq: Seq[String] = runQuarantine) =
      sink(b.getBytes(UTF_8), expected.fetchQuarantine, rq)
    assert(check(body) === Right(expected.features.size.toLong))
    assert(check(body) === Right(expected.features.size.toLong))
    assert(check(body.replaceFirst("\"coordinates\":\\[-", "\"coordinates\":[")).isLeft)
    assert(check(body, rq = Seq.empty).isLeft)
  }

  test("a planted wrong digest fails the mix check") {
    val real = mapper.readTree(Paths.get("expected", "digests.json").toFile)
    val planted = mapper.createObjectNode()
    planted.set("b17_agg_hash", real.get("b17_agg_hash"))
    planted.set("b12_join_broadcast", real.get("b12_join_broadcast").deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("sha256", "0" * 64))
    mapper.writeValue(Paths.get(ctx.opts.expected).toFile, planted)
    assert(new Mix(Seq("b17_agg_hash", "b12_join_broadcast")).check(ctx) === ((2, 1)))
    assert(new Mix(Seq("b17_agg_hash")).check(ctx) === ((1, 0)))
  }
}
