package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.config.ConfigTables
import graft.ingest.{CsvIO, FakeReportSource, HttpReportSource, ReportSource, TokenManager}
import graft.run.Orchestrator

/** DataSource V2 surface for the report-extraction dataflow — the
  * "full-Spark" form of SURVEY §2 C2/C3: instead of orchestrating fetches
  * imperatively, the report set IS a table:
  *
  * {{{
  * spark.read.format("graft.sources.ReportDataSource")
  *   .option("env", "prod")
  *   .option("from_date", "2024-02-29").option("to_date", "2024-03-01")
  *   .load()
  * }}}
  *
  * One `InputPartition` per report of `env` in the config
  * ([[ConfigTables.reportSpecs]]), carrying its `retries` and
  * `timeout_sec`. Each partition fetches through `Orchestrator.fetchReport`,
  * the per-report core of both orchestrator modes, so a transient 5xx is
  * retried inside the task; a report with no data rows is zero table rows.
  * Every downstream operator (filter/agg/join/sink) composes as a plain
  * DataFrame. `report_name` equality/IN filters are pushed down and prune
  * whole partitions — an unfetched report costs nothing.
  *
  * The wire client is [[HttpReportSource]] on the `base_url` option (with
  * `post_endpoint`, `get_endpoint`, `timeout_sec`) when it is set, and the
  * deterministic [[FakeReportSource]] (`rows_per_report` rows) otherwise.
  */
class ReportDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReportDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReportTable(properties.asScala.toMap)
}

object ReportDataSource {
  /** Payload schema of the deterministic source (header
    * `date,queue,calls,answered,abandoned`), prefixed with the report name.
    */
  val schema: StructType = StructType(Seq(
    StructField("report_name", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("queue", StringType, nullable = false),
    StructField("calls", IntegerType, nullable = false),
    StructField("answered", IntegerType, nullable = false),
    StructField("abandoned", IntegerType, nullable = false)))

  /** The wire client for the scan options (see the class header). */
  def source(options: Map[String, String]): ReportSource = options.get("base_url") match {
    case Some(baseUrl) =>
      new HttpReportSource(baseUrl,
        options.getOrElse("post_endpoint", "/reports/generate"),
        options.getOrElse("get_endpoint", "/reports/download"),
        options.getOrElse("timeout_sec", "30").toInt)
    case None => new FakeReportSource(options.getOrElse("rows_per_report", "100").toInt)
  }
}

final class ReportTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"reports(${properties.getOrElse("env", "prod")})"
  override def schema(): StructType = ReportDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReportScanBuilder(options.asScala.toMap ++ properties)
}

final class ReportScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {

  private var pushedReportNames: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  /** Accept report_name = 'x' / IN (...) filters: they prune partitions, so
    * filtered-out reports are never fetched at all. Filters arrive as ANDed
    * conjuncts, so multiple name filters INTERSECT (two conflicting
    * equalities ⇒ zero partitions). All filters are also returned as
    * residuals — Spark re-applies them post-scan, keeping correctness even
    * where pruning is conservative.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val nameSets: Seq[Set[String]] = filters.toSeq.collect {
      case EqualTo("report_name", v: String) => Set(v)
      case In("report_name", vs) if vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    if (nameSets.nonEmpty) {
      pushedReportNames = Some(nameSets.reduce(_ intersect _))
      pushed = filters.filter {
        case EqualTo("report_name", _: String) => true
        case In("report_name", vs) => vs.forall(_.isInstanceOf[String])
        case _ => false
      }
    }
    filters // conservative: everything re-checked post-scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ReportScan(options, pushedReportNames)
}

final case class ReportPartition(task: Orchestrator.ReportTask) extends InputPartition

final class ReportScan(options: Map[String, String], nameFilter: Option[Set[String]])
    extends Scan with Batch {

  override def readSchema(): StructType = ReportDataSource.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val from = options.getOrElse("from_date", "2024-02-29")
    val to = options.getOrElse("to_date", "2024-03-01")
    ConfigTables.reportSpecs(options.getOrElse("env", "prod"))
      .filter(s => nameFilter.forall(_.contains(s.report_name)))
      .map(s => ReportPartition(
        Orchestrator.ReportTask("dsv2", s.report_name, s.retries, s.timeout_sec, from, to)))
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReportReaderFactory(options)
}

final class ReportReaderFactory(options: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReportPartition]
    new ReportPartitionReader(p, options)
  }
}

/** Executes on the executor: `Orchestrator.fetchReport` for the
  * partition's task, then its CSV data lines as rows.
  */
final class ReportPartitionReader(p: ReportPartition, options: Map[String, String])
    extends PartitionReader[InternalRow] {

  private val lines: Iterator[Array[String]] = {
    val tokens = new TokenManager(() =>
      TokenManager.Token(options.getOrElse("token", "dsv2-token"), 3600))
    // fetchReport submits to ExecutionContext.global, whose new workers
    // inherit this thread's context loader: a scan task's is its session's,
    // and fails their codegen (RemoteClassLoaderError) once it stops.
    val thread = Thread.currentThread()
    val sessionLoader = thread.getContextClassLoader
    thread.setContextClassLoader(getClass.getClassLoader)
    val csv =
      try Orchestrator.fetchReport(ReportDataSource.source(options), tokens, p.task)
      finally thread.setContextClassLoader(sessionLoader)
    CsvIO.dataLines(csv).map(_.split(","))
  }

  private var current: Array[String] = _

  override def next(): Boolean = {
    if (lines.hasNext) { current = lines.next(); true } else false
  }

  override def get(): InternalRow =
    InternalRow(
      UTF8String.fromString(p.task.report_name),
      UTF8String.fromString(current(0)),
      UTF8String.fromString(current(1)),
      current(2).toInt,
      current(3).toInt,
      current(4).toInt)

  override def close(): Unit = ()
}
