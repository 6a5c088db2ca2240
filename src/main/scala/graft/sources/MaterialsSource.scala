package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for a materials catalog — the engine's
  * re-expression of the reference's extract step: a REST scan with
  * server-side chemistry filters (`mpr.materials.oxidation_states.
  * search(chemsys=…, possible_species=…)`, `dags/my_dag.py:19-45`;
  * SURVEY.md §2a #1), fetched page by page.
  *
  * It does three things:
  *  - `SupportsPushDownFilters`: `EqualTo`/`In` predicates on
  *    `material_id` / `chemsys` / `possible_species` become backend
  *    query parameters, so non-matching rows never cross the wire.
  *    Every other predicate stays above the scan,
  *  - `SupportsPushDownRequiredColumns`: column pruning reaches the
  *    READER (only requested fields are decoded into rows); the wire
  *    still ships full catalog rows,
  *  - the key space is split into `pages` input partitions, the DSv2
  *    analogue of paginated API fetches — each task pulls its own page.
  *
  * The backend is pluggable through [[MaterialsBackend]]:
  * `.option("path", file)` reads a local pipe-separated catalog
  * (zero-egress CI); `.option("url", endpoint)` speaks HTTP via
  * [[HttpCatalogBackend]]. The pushed query is the same for both, so
  * `PushedBackendQuery` in the scan description does not depend on
  * the backend.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.MaterialsSource")
  *     .option("path", catalog).option("pages", "4").load()
  *     .filter($"chemsys" === "V-O")   // → PushedBackendQuery
  * }}}
  */
class MaterialsSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MaterialsSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new MaterialsTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object MaterialsSource {
  val Schema: StructType = StructType(Seq(
    StructField("material_id", StringType, nullable = false),
    StructField("chemsys", StringType, nullable = false),
    StructField("formula", StringType, nullable = false),
    StructField("possible_species", StringType, nullable = true),
    StructField("nsites", IntegerType, nullable = false),
    StructField("energy_per_atom", DoubleType, nullable = false)))

  /** Query predicates the "server" understands — the pushed subset:
    * per-column IN-lists (an EqualTo is a singleton IN). An EMPTY
    * list matches nothing. */
  case class BackendQuery(in: Map[String, Seq[String]]) {
    def matches(col: String, value: String): Boolean =
      in.get(col).forall(_.contains(value))

    /** Whether a catalog row (fields in [[Schema]] order) passes every
      * pushed column. */
    def matchesRow(f: Array[String]): Boolean =
      matches("material_id", f(0)) && matches("chemsys", f(1)) &&
        matches("possible_species", f(3))
  }

  /** Page of a key: Spark's murmur3 string hash (seed 42) pmod
    * `nPages`, so every row of one id lands on exactly one page. Both
    * backends' servers split pages with it. */
  def pageOf(id: String, nPages: Int): Int =
    math.floorMod(Murmur3HashFunction.hash(UTF8String.fromString(id), StringType, 42L),
      nPages.toLong).toInt
}

/** The pluggable fetch seam of the source. A backend receives the
  * pushed query and the page split and is trusted to honour the
  * filters server-side: pushed conjuncts return no residual, so Spark
  * never re-applies them (the trust contract of a real REST API).
  *
  * Instances are created on the driver and shipped inside
  * [[MaterialsPage]] to executors, so implementations must be
  * Serializable value objects (hold a path/url, not a connection). */
trait MaterialsBackend extends Serializable {
  /** Catalog rows of page `page` of `nPages` that match `query`,
    * fields in [[MaterialsSource.Schema]] order. */
  def fetch(page: Int, nPages: Int, query: MaterialsSource.BackendQuery): Iterator[Array[String]]
  /** Identifies the backend in plan/table descriptions. */
  def description: String
}

/** Local pipe-separated catalog file: the zero-egress stand-in for
  * the remote materials API. Rows filtered here never reach Spark,
  * mirroring server-side filtering. */
case class LocalBackend(path: String) extends MaterialsBackend {
  override def fetch(page: Int, nPages: Int,
                     query: MaterialsSource.BackendQuery): Iterator[Array[String]] =
    LocalBackend.catalog(path).iterator.filter(f =>
      MaterialsSource.pageOf(f(0), nPages) == page && query.matchesRow(f))
  override def description: String = s"path=$path"
}

object LocalBackend {
  /** Catalog parsed once per path per executor JVM, replaced when the
    * file's mtime moves — one entry per path (a (path, mtime) key
    * would pin every superseded parse forever in a long-lived JVM).
    * Without it every page of every query re-read and re-split the
    * whole file. */
  private val parsed =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Array[String]])]()

  private def catalog(path: String): Array[Array[String]] = {
    val mtime = new java.io.File(path).lastModified()
    parsed.compute(path, (_, cur) =>
      if (cur != null && cur._1 == mtime) cur
      else {
        // explicit UTF-8 (the HTTP backend's charset): the default
        // codec is JVM-configurable, and a non-ASCII catalog must
        // parse the same on either backend
        val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
        try (mtime, src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
          .map(_.split("\\|", -1)).toArray)
        finally src.close()
      })._2
  }
}

/** HTTP backend: the pushed query becomes parameters on a GET — the
  * reference's `mpr.materials…search(chemsys=…)` call shape
  * (`dags/my_dag.py:28-29`), here against any server speaking the
  * same contract (tests run a loopback `com.sun.net.httpserver`
  * instance; zero egress).
  *
  * Wire contract (`text/plain`, one pipe-separated row per line):
  *   GET url?page=i&pages=n[&in.<col>=v]*[&none.<col>=1]*
  * The server returns the rows of page i (split by
  * [[MaterialsSource.pageOf]]) that match every column. Repeated
  * `in.<col>` params form the IN-list (values may contain any catalog
  * character — no in-value separator to collide with); `none.<col>=1`
  * declares an EMPTY IN-list — the column matches no row
  * (contradictory pushed conjuncts; required because "zero repeated
  * params" is indistinguishable from "no filter"). */
case class HttpCatalogBackend(url: String) extends MaterialsBackend {
  override def fetch(page: Int, nPages: Int,
                     query: MaterialsSource.BackendQuery): Iterator[Array[String]] = {
    val params = Seq("page" -> page.toString, "pages" -> nPages.toString) ++
      query.in.toSeq.sortBy(_._1).flatMap {
        // Spark never re-applies pushed conjuncts, so dropping an
        // empty list would make the server match EVERYTHING on it
        case (c, vs) if vs.isEmpty => Seq(s"none.$c" -> "1")
        case (c, vs)               => vs.map(v => s"in.$c" -> v)
      }
    val qs = params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
    val conn = java.net.URI.create(s"$url?$qs").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    val lines = try {
      require(conn.getResponseCode == 200,
        s"materials backend: HTTP ${conn.getResponseCode} for $url?$qs")
      val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toList finally src.close()
    } finally conn.disconnect()
    lines.iterator.map(_.split("\\|", -1))
  }

  override def description: String = s"url=$url"
}

private[sources] class MaterialsTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"materials(${properties.get("url").orElse(properties.get("path")).getOrElse("?")})"
  override def schema(): StructType = MaterialsSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def opt(k: String, default: String): String =
      options.getOrDefault(k, properties.getOrElse(k, default))
    // fail fast at planning: an empty path otherwise surfaces as an
    // executor-time FileNotFoundException('') with no hint at the
    // cause, and pages <= 0 would plan ZERO input partitions, so
    // every query over the source would silently return empty
    val backend: MaterialsBackend = opt("url", "") match {
      case "" =>
        val p = opt("path", "")
        require(p.nonEmpty,
          "materials source needs option 'path' (local catalog) or 'url' (HTTP backend)")
        LocalBackend(p)
      case u  => HttpCatalogBackend(u)
    }
    val rawPages = opt("pages", "4")
    val pages = rawPages.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"option 'pages' must be an integer >= 1, got $rawPages"))
    new MaterialsScanBuilder(backend, pages)
  }
}

private[sources] class MaterialsScanBuilder(backend: MaterialsBackend, pages: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  import MaterialsSource._

  private val Pushable = Set("material_id", "chemsys", "possible_species")
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) => Pushable(a)
      case In(a, vs) if vs.forall(_.isInstanceOf[String]) => Pushable(a)
      case _ => false
    }
    pushed = accepted
    rejected // Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // several accepted conjuncts can hit the SAME column (e.g. two
    // isin() filters); since pushFilters returned no residual for
    // them, Spark never re-applies them — a last-wins .toMap would
    // silently widen the result, so value sets intersect (EqualTo
    // folds in as a singleton In)
    val in = pushed.collect {
        case EqualTo(a, v: String) => a -> Seq(v)
        case In(a, vs) => a -> vs.map(_.asInstanceOf[String]).toSeq
      }
      .groupBy(_._1)
      .map { case (colName, gs) => colName -> gs.map(_._2).reduce(_ intersect _) }
    new MaterialsScan(backend, pages, BackendQuery(in), required, pushed.map(_.toString))
  }
}

private[sources] class MaterialsScan(
    backend: MaterialsBackend, pages: Int, query: MaterialsSource.BackendQuery,
    required: StructType, pushedDesc: Array[String])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MaterialsScan ${backend.description} PushedBackendQuery=[${pushedDesc.mkString(", ")}]"

  /** Paginated partition planning: page i of n — each reader fetches
    * only its own page from the backend. */
  override def planInputPartitions(): Array[InputPartition] =
    (0 until pages).map(i => MaterialsPage(backend, i, pages, query): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new MaterialsReaderFactory(required)
}

private[sources] case class MaterialsPage(
    backend: MaterialsBackend, page: Int, nPages: Int, query: MaterialsSource.BackendQuery)
    extends InputPartition

private[sources] class MaterialsReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MaterialsPageReader(partition.asInstanceOf[MaterialsPage], required)
}

/** Reads one page from the catalog backend, which has already applied
  * the pushed query; decodes only the `required` columns. */
private[sources] class MaterialsPageReader(page: MaterialsPage, required: StructType)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[Array[String]] =
    page.backend.fetch(page.page, page.nPages, page.query)
  private var current: Array[String] = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  private val fieldIdx = required.fields.map(f =>
    MaterialsSource.Schema.fieldIndex(f.name))

  override def get(): InternalRow = {
    val values = fieldIdx.map { i =>
      val raw = current(i)
      MaterialsSource.Schema.fields(i).dataType match {
        case StringType  => UTF8String.fromString(raw)
        case IntegerType => raw.toInt
        case DoubleType  => raw.toDouble
        case dt          => throw new IllegalStateException(s"unhandled $dt")
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }
  override def close(): Unit = ()
}
