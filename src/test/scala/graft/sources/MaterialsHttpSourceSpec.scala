package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** The DSv2 source against [[HttpCatalogBackend]]: same pushdown
  * machinery, but the pushed request crosses a real socket as query
  * parameters — exercised against a loopback JDK `HttpServer` that
  * serves the same catalog fixture (zero egress). The server records
  * every request and counts rows shipped, so these tests prove the
  * filters were applied SERVER-side, not just that results match. */
class MaterialsHttpSourceSpec extends SparkSpec with BeforeAndAfterAll {
  import MaterialsSource.BackendQuery

  private var server: HttpServer = _
  private var url: String = _
  private val requests = new CopyOnWriteArrayList[String]()
  private val rowsServed = new AtomicLong(0)

  private lazy val catalogRows: Array[Array[String]] = {
    val src = scala.io.Source.fromFile(fixturePath("materials_catalog.psv"))
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\\|", -1)).toArray
    finally src.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/catalog", (exchange: HttpExchange) => handle(exchange))
    server.start()
    url = s"http://127.0.0.1:${server.getAddress.getPort}/catalog"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  /** Implements the wire contract documented on [[HttpCatalogBackend]]. */
  private def handle(exchange: HttpExchange): Unit = {
    val raw = Option(exchange.getRequestURI.getRawQuery).getOrElse("")
    requests.add(raw)
    val params: Map[String, Seq[String]] = raw.split("&").filter(_.nonEmpty).toSeq
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val query = BackendQuery(
      params.collect { case (k, vs) if k.startsWith("in.") => k.drop(3) -> vs } ++
      // none.<col>=1: an explicitly EMPTY IN-list — matches nothing
      params.collect { case (k, _) if k.startsWith("none.") => k.drop(5) -> Seq.empty[String] })
    val nPages = params("pages").head.toInt
    val pageNo = params("page").head.toInt
    val page = catalogRows.filter(f =>
      query.matchesRow(f) && MaterialsSource.pageOf(f(0), nPages) == pageNo)
    rowsServed.addAndGet(page.length)
    val body = page.map(_.mkString("|")).mkString("\n")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length.toLong)
    try if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
    finally exchange.close()
  }

  private def resetCounters(): Unit = { requests.clear(); rowsServed.set(0) }

  private def loadHttp() = spark.read
    .format("graft.sources.MaterialsSource")
    .option("url", url).option("pages", "3").load()

  private def loadLocal() = spark.read
    .format("graft.sources.MaterialsSource")
    .option("path", fixturePath("materials_catalog.psv")).option("pages", "3").load()

  private def scanDesc(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan.description()

  test("full scan over HTTP matches the local backend row-for-row") {
    val http = loadHttp().collect().map(_.toSeq).toSet
    val local = loadLocal().collect().map(_.toSeq).toSet
    assert(http == local)
    assert(http.size == 10)
  }

  test("pushed EqualTo becomes a query param; only matching rows cross the wire") {
    resetCounters()
    val df = loadHttp().filter(col("chemsys") === "V-O")
    assert(df.collect().length == 6)
    assert(scanDesc(df).contains("PushedBackendQuery=[EqualTo(chemsys,V-O)"))
    // the builder folds EqualTo into a singleton In before the wire
    val fetches = requests.asScala
    assert(fetches.nonEmpty && fetches.forall(_.contains("in.chemsys=V-O")),
      s"filter param missing from requests: $fetches")
    assert(rowsServed.get() == 6, s"server shipped ${rowsServed.get()} rows, expected 6")
  }

  test("pushed In-list becomes repeated in. params; identical PushedFilters vs local") {
    resetCounters()
    val http = loadHttp().filter(col("material_id").isin("mp-1002", "mp-1005"))
    val local = loadLocal().filter(col("material_id").isin("mp-1002", "mp-1005"))
    assert(http.collect().map(_.getAs[String]("material_id")).sorted.toSeq ==
      Seq("mp-1002", "mp-1005"))
    // pushdown decisions must not depend on the backend: equal modulo
    // the backend identifier prefix
    def pushedPart(d: String) = d.dropWhile(_ != 'P') // from "PushedBackendQuery…"
    assert(pushedPart(scanDesc(http)) == pushedPart(scanDesc(local)))
    val fetches = requests.asScala
    assert(fetches.forall(q =>
      q.contains("in.material_id=mp-1002") && q.contains("in.material_id=mp-1005")),
      s"in-list params missing: $fetches")
    assert(rowsServed.get() == 2)
  }

  test("contradictory same-column filters return ZERO rows over the wire (none. marker)") {
    // the local-backend regression test for this shape passed while
    // the HTTP wire silently dropped the empty IN-list and matched
    // everything (r12 review); the none.<col> marker closes the gap
    resetCounters()
    // two DISJOINT In-lists: contradictory equalities never reach the
    // source (Catalyst's ConstantPropagation folds them to an empty
    // relation engine-side), but disjoint IN-lists survive to
    // pushFilters and intersect to the empty set on the scan
    val df = loadHttp().filter(
      col("material_id").isin("mp-1002", "mp-1005") &&
      col("material_id").isin("mp-1008", "mp-1009"))
    assert(df.collect().isEmpty, "contradictory pushed conjuncts must match nothing")
    val fetches = requests.asScala
    assert(fetches.nonEmpty && fetches.forall(_.contains("none.material_id=1")),
      s"empty-IN marker missing from requests: $fetches")
    assert(rowsServed.get() == 0, s"server shipped ${rowsServed.get()} rows, expected 0")
  }

  test("unsupported predicate stays engine-side: full pages shipped, Spark filters") {
    resetCounters()
    assert(loadHttp().filter(col("nsites") > 10).count() == 4)
    val fetches = requests.asScala
    assert(fetches.forall(q => !q.contains("nsites")), s"nsites must not be pushed: $fetches")
    assert(rowsServed.get() == 10) // no server-side cut — honest about the wire cost
  }

  test("non-200 backend response fails loudly with the request context") {
    server.createContext("/broken", (exchange: HttpExchange) => {
      exchange.sendResponseHeaders(503, -1)
      exchange.close()
    })
    val broken = spark.read.format("graft.sources.MaterialsSource")
      .option("url", s"http://127.0.0.1:${server.getAddress.getPort}/broken")
      .option("pages", "2").load()
    val e = intercept[Exception] { broken.count() }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("HTTP 503")),
      s"unhelpful failure chain: $messages")
  }
}
