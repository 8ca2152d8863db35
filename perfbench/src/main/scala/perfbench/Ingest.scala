package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import java.util.concurrent.{Executors, ThreadFactory}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{HttpSubmitSink, WildWebFetcher}
import graft.wildweb.{WildWebConfig, WildWebPipeline}

/** Envelopes for one invocation of the paper's job, and what a correct
  * run delivers for them.
  *
  * The expected side is computed here from the reference semantics (the
  * rules `tools/make_wildweb_fixtures.py` writes down), never by calling
  * the Spark code: keep iff date >= now - 168 h; minute-truncated UTC date
  * in `start` and `metadata.date`; drop a coordinate that is null, blank,
  * zero or not a number; negate the longitude unconditionally. */
object IngestData {
  val Now: Instant = Instant.parse("2026-01-15T12:00:00Z")
  val Range = "1 Week"
  private val RangeSeconds = 168L * 3600
  private val SpanSeconds = 240L * 3600 // ~30% of dates fall outside the range

  /** Every JS-falsy or non-numeric coordinate form the job must drop. */
  val InvalidCoords: Seq[String] = Seq(null, "", " ", "0", "abc")

  val NullDataCenter = "zz_null_data"
  val FailingCenter = "zz_http_503"
  val CorruptCenter = "zz_corrupt"

  final case class Center(name: String, status: Int, body: Array[Byte])

  /** @param features canonical form of every expected feature, sorted
    * @param decoded incidents in the envelopes that decode */
  final case class Expected(features: Vector[String], decoded: Long,
      fetchQuarantine: Seq[String], runQuarantine: Seq[String])

  private val Fields = Seq("ic", "date", "name", "type", "uuid", "acres", "fuels",
    "inc_num", "fire_num", "latitude", "location", "longitude", "resources",
    "webComment", "fire_status", "fiscal_data")

  private val Names = Seq("CANYON", "MESA", "PINE", "OAK", "SAGE", "RIM", "CREEK",
    "RIDGE", "HOLLOW", "BLUFF", "CEDAR", "ASPEN", "JUNIPER", "WILLOW", "BASIN",
    "SUMMIT", "VALLEY", "FLAT", "KNOB", "GULCH").map(_ + " FIRE")
  private val Resources = Seq("Engine 31", "Crew 7", "Helicopter 3", "Dozer 2",
    "Tender 9", "Air Attack 1")

  private val IsoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  private val Minute = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    .withZone(ZoneOffset.UTC)

  /** JS `!v || isNaN(Number(v)) || Number(v) === 0` → drop (task.ts:120-124). */
  def keepCoord(v: String): Boolean =
    v != null && v.trim.nonEmpty &&
      scala.util.Try(v.trim.toDouble).toOption.exists(d => !d.isNaN && d != 0.0)

  private def quote(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One feature in canonical form: the fields the check compares, with
    * coordinates as parsed doubles. Shared by the expected and actual side. */
  def canonical(id: String, tpe: String, callsign: String, start: String,
      meta: Seq[String], resources: Seq[String], geomType: String,
      lon: Double, lat: Double): String =
    (Seq(id, tpe, callsign, start) ++ meta.map(m => if (m == null) "\u0000" else m) ++
      Seq(Option(resources).map(_.mkString("\u0002")).getOrElse("\u0000"),
        geomType, lon.toString, lat.toString)).mkString("\u0001")

  def generate(seed: Long, centers: Int, perCenter: Int): (Seq[Center], Expected) = {
    val rnd = new Random(seed)
    var decoded = 0L
    val feats = Vector.newBuilder[String]
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def coord(lo: Double, width: Double, negative: Boolean): String =
      if (rnd.nextDouble() < 0.03) pick(InvalidCoords)
      else (if (negative) "-" else "") +
        String.format(Locale.ROOT, "%.4f", Double.box(lo + rnd.nextDouble() * width))
    def opt(p: Double, v: => String): String = if (rnd.nextDouble() < p) null else v

    val normal = (0 until centers).map { c =>
      val name = f"center_$c%02d"
      val uuids = new Array[String](perCenter)
      val incidents = (0 until perCenter).map { i =>
        // i == 0 sits exactly on the range boundary, which is kept
        val age = if (i == 0) RangeSeconds else (rnd.nextDouble() * SpanSeconds).toLong
        val at = Now.minusSeconds(age)
        uuids(i) =
          if (i > 0 && rnd.nextDouble() < 0.01) uuids(rnd.nextInt(i)) // duplicate uuid
          else s"s$seed-c$c-i$i"
        val resources =
          if (rnd.nextDouble() < 0.1) null
          else Seq.fill(rnd.nextInt(4))(pick(Resources))
        val values = Seq(
          opt(0.1, "J. Doe"), IsoSeconds.format(at), pick(Names), "Wildfire", uuids(i),
          opt(0.1, (1 + rnd.nextInt(5000)).toString), opt(0.2, "Timber"),
          opt(0.1, s"INC-${rnd.nextInt(900)}"), opt(0.1, s"FN-${rnd.nextInt(900)}"),
          coord(25, 24, negative = false), opt(0.1, "Ridge Rd"),
          coord(100, 25, negative = rnd.nextDouble() < 0.25), null,
          opt(0.2, "initial attack"), "Active", "FS-2026")
        val lat = values(9)
        val lon = values(11)
        if (age <= RangeSeconds && keepCoord(lon) && keepCoord(lat)) {
          val meta = values.updated(1, Minute.format(at))
          feats += canonical("wildweb-" + uuids(i), "Feature", values(2), meta(1),
            meta.take(12) ++ meta.drop(13), resources, "Point",
            -lon.trim.toDouble, lat.trim.toDouble)
        }
        Fields.zip(values).map {
          case ("resources", _) =>
            "\"resources\":" + Option(resources).map(_.map(quote).mkString("[", ",", "]"))
              .getOrElse("null")
          case (k, v) => quote(k) + ":" + quote(v)
        }.mkString("{", ",", "}")
      }
      decoded += perCenter
      Center(name, 200, envelope(incidents.mkString("[", ",", "]")))
    }
    val special = Seq(
      Center(NullDataCenter, 200, envelope("null")),
      Center(FailingCenter, 503, "upstream unavailable".getBytes(UTF_8)),
      // a truncated body: decodes to a null envelope and is quarantined
      Center(CorruptCenter, 200,
        new String(envelope("[{\"ic\":\"J. Doe\",\"date\":"), UTF_8).dropRight(3).getBytes(UTF_8)))
    (normal ++ special, Expected(feats.result().sorted, decoded,
      Seq(FailingCenter), Seq(CorruptCenter)))
  }

  private def envelope(data: String): Array[Byte] =
    s"""[{"retrieved":"${IsoSeconds.format(Now)}","data":$data}]""".getBytes(UTF_8)

  /** The number of features a delivered body holds, or why it is wrong:
    * features differ from `expected` (as a multiset: uuids repeat), are
    * not in id order, or a quarantine list differs. */
  def verify(body: Array[Byte], expected: Expected, fetchQuarantine: Seq[String],
      runQuarantine: Seq[String]): Either[String, Long] =
    delivered(body).flatMap { fs =>
      if (fs.sorted != expected.features)
        Left(s"${fs.size} features delivered, ${expected.features.size} expected")
      else if (fs.map(_.takeWhile(_ != '\u0001')).sliding(2).exists(p => p.size == 2 && p(0) > p(1)))
        Left("features not ordered by id")
      else if (fetchQuarantine != expected.fetchQuarantine)
        Left(s"fetch quarantine $fetchQuarantine")
      else if (runQuarantine.sorted != expected.runQuarantine)
        Left(s"run quarantine $runQuarantine")
      else Right(fs.size.toLong)
    }

  /** Canonical features of a delivered FeatureCollection, in body order,
    * or Left(reason) when its shape is wrong. */
  def delivered(body: Array[Byte]): Either[String, Vector[String]] = {
    val root = new ObjectMapper().readTree(body)
    def text(n: JsonNode): String = if (n == null || n.isNull) null else n.asText()
    if (text(root.get("type")) != "FeatureCollection") Left("not a FeatureCollection")
    else Right(root.get("features").elements().asScala.map { f =>
      val props = f.get("properties")
      val meta = props.get("metadata")
      val res = meta.get("resources")
      val coords = f.get("geometry").get("coordinates")
      canonical(text(f.get("id")), text(f.get("type")), text(props.get("callsign")),
        text(props.get("start")),
        Fields.filter(_ != "resources").map(k => text(meta.get(k))),
        if (res == null || res.isNull) null else res.elements().asScala.map(_.asText()).toSeq,
        text(f.get("geometry").get("type")), coords.get(0).asDouble(), coords.get(1).asDouble())
    }.toVector)
  }
}

/** The sink's check of one delivered body. A body byte-equal to the last
  * one that passed [[IngestData.verify]] passes as it did, given the same
  * quarantine lists; any other body is verified in full. */
final class SinkCheck(expected: IngestData.Expected) {
  private var verified: (Array[Byte], Long) = (null, 0L)

  def apply(body: Array[Byte], fetchQuarantine: Seq[String],
      runQuarantine: Seq[String]): Either[String, Long] =
    if (java.util.Arrays.equals(body, verified._1) &&
        fetchQuarantine == expected.fetchQuarantine &&
        runQuarantine.sorted == expected.runQuarantine) Right(verified._2)
    else {
      val verdict = IngestData.verify(body, expected, fetchQuarantine, runQuarantine)
      verdict.foreach(n => verified = (body, n))
      verdict
    }
}

/** In-process HTTP endpoints: the dispatch centers' incident feeds and the
  * submit sink, which keeps the last body it received and when its request
  * headers arrived. */
final class IngestServer(centers: Seq[IngestData.Center]) {
  private val byName = centers.map(c => c.name -> c).toMap
  private val pool = Executors.newFixedThreadPool(2, new ThreadFactory {
    def newThread(r: Runnable): Thread = { val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t }
  })
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  @volatile var servedBytes = 0L
  @volatile var headersAtNs = 0L
  @volatile var lastBody: Array[Byte] = Array.emptyByteArray

  private def reply(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(status, body.length.toLong)
    val out = ex.getResponseBody
    try out.write(body) finally { out.close(); ex.close() }
  }

  server.createContext("/incidents/", (ex: HttpExchange) => {
    byName.get(ex.getRequestURI.getPath.stripPrefix("/incidents/")) match {
      case Some(c) => servedBytes += c.body.length; reply(ex, c.status, c.body)
      case None => reply(ex, 404, Array.emptyByteArray)
    }
  })
  server.createContext("/submit", (ex: HttpExchange) => {
    headersAtNs = System.nanoTime()
    lastBody = ex.getRequestBody.readAllBytes()
    reply(ex, 200, "ok".getBytes(UTF_8))
  })
  server.setExecutor(pool)
  server.start()

  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  def incidentsUrl(center: String): String = s"$base/incidents/$center"
  val submitUrl: String = s"$base/submit"

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** wildweb_ingest: the paper's scheduled job end to end, one invocation
  * per operation: fetch every center over HTTP, run the pipeline, submit
  * the FeatureCollection to the in-process sink. */
final class Ingest(centers: Int, perCenter: Int) extends Workload {
  private var data: Seq[IngestData.Center] = Nil
  private var expected: IngestData.Expected = _
  private var sinkCheck: SinkCheck = _
  private var server: IngestServer = _
  private var invocation = 0
  private val config = WildWebConfig(IngestData.Range, IngestData.Now)

  /** Inputs are generated once per process; each set-up starts the HTTP
    * endpoints and runs one warm-up invocation on the fresh session. */
  def setUp(ctx: Ctx): Unit = {
    close()
    if (expected == null) {
      val (d, e) = IngestData.generate(ctx.opts.seed, centers, perCenter)
      data = d
      expected = e
      sinkCheck = new SinkCheck(e)
    }
    server = new IngestServer(data)
    invoke(ctx)
  }

  def check(ctx: Ctx): (Int, Int) = {
    // the golden fixture, byte for byte against its re-serialized form
    val fixtures = Paths.get(ctx.opts.root, "fixtures", "wildweb")
    val ok = WildWebPipeline.run(ctx.spark, fixtures.resolve("run_ok").toString,
      WildWebConfig("1 Week", IngestData.Now)) match {
      case WildWebPipeline.Completed(features, errors) =>
        val mapper = new ObjectMapper()
        val want = mapper.writeValueAsString(
          mapper.readTree(fixtures.resolve("expected_featurecollection.json").toFile))
        errors.isEmpty && WildWebPipeline.featureCollectionJson(features) == want
      case _ => false
    }
    if (!ok) System.err.println("[perfbench] golden fixture mismatch")
    // three more checked invocations finish warming the JIT before timing;
    // with two, the first timed invocation was still often the slowest
    val warm = Seq.fill(3)(invoke(ctx))
    (1 + warm.size, (if (ok) 0 else 1) + warm.count(!_.ok))
  }

  def pass(ctx: Ctx, passNo: Int): Seq[OpResult] = Seq(invoke(ctx))

  private def invoke(ctx: Ctx): OpResult = {
    invocation += 1
    val dir = Paths.get(ctx.opts.work, "ingest", s"inv-$invocation")
    val gc0 = Jvm.gcSeconds()
    val bytes0 = server.servedBytes
    val op = ctx.spanId()
    val t0 = System.nanoTime()
    val ((_, quarantined), fetchS) = ctx.call("sources", "fetch", op) {
      WildWebFetcher.fetchAll(data.map(_.name).sorted, server.incidentsUrl, dir.toString,
        WildWebFetcher.httpTransport())
    }
    val (outcome, runS) = ctx.call("wildweb", "run", op) {
      WildWebPipeline.run(ctx.spark, dir.toString, config)
    }
    var submitS, assembleS = 0.0
    outcome match {
      case WildWebPipeline.Completed(features, _) =>
        val submitAt = System.nanoTime()
        submitS = ctx.call("sources", "submit", op) {
          HttpSubmitSink.submit(features, server.submitUrl)
        }._2
        assembleS = (server.headersAtNs - submitAt) / 1e9
      case _ =>
    }
    val t1 = System.nanoTime()
    ctx.opSpan(op, "wildweb_ingest.invocation", op, t0, t1)
    ctx.unmetered(HostSpeed.probe(ctx.opts.cpus))
    val gc = Jvm.gcSeconds() - gc0

    // the sink's check, outside the timed operation and every reading
    val fetchedBytes = server.servedBytes - bytes0
    val (ok, kept) = ctx.unmetered {
      val verdict = outcome match {
        case WildWebPipeline.Completed(_, errors) =>
          sinkCheck(server.lastBody, quarantined.map(_._1),
            errors.collect().map(_.getString(0)).toSeq) match {
            case Right(n) => (true, n)
            case Left(why) =>
              System.err.println(s"[perfbench] invocation $invocation: $why")
              (false, 0L)
          }
        case other =>
          System.err.println(s"[perfbench] invocation $invocation: $other")
          (false, 0L)
      }
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      verdict
    }
    OpResult("wildweb", "invocation", (t1 - t0) / 1e9, ok, expected.decoded,
      Map("sources.fetch_s" -> fetchS, "wildweb.run_s" -> runS,
        "sources.submit_s" -> submitS, "sources.submit_assemble_s" -> assembleS,
        "sources.fetch_bytes" -> fetchedBytes.toDouble,
        "sources.fetch_quarantined" -> quarantined.size.toDouble,
        "sources.submit_bytes" -> server.lastBody.length.toDouble,
        "wildweb.decoded" -> expected.decoded.toDouble,
        "wildweb.kept" -> kept.toDouble, "jvm.gc_s" -> gc) ++ ctx.leftovers())
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}
