package reportbench

import graft.operators.QualityChecks
import graft.pipeline._
import graft.sources.{CheckpointStore, HudiTableWriter, TableLoader}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** What the benchmark measured in one cycle, from outside the program.
  * Times are seconds; NaN where the cycle had no such step.
  */
final case class CycleRecord(
    k: Int,
    traced: Boolean,
    cycleS: Double,
    reportS: Double,
    freshS: Double,
    gcS: Double,
    commitS: Double = Double.NaN,
    cleanS: Double = Double.NaN,
    batchRows: Int = 0,
    filesAdded: Int = 0,
    bytesAdded: Long = 0,
    filesRemoved: Int = 0,
    bytesRemoved: Long = 0,
    tableFiles: Int = 0,
    error: Option[String] = None)

final case class Ctx(spark: SparkSession, work: String, seed: Long, tracer: Tracer, cores: Int)

/** Hands every email to graft's logging sender and stamps the handoff. */
final class StampingSender extends EmailSender {
  private val inner = new LoggingEmailSender
  var handoffNs = 0L
  var last: Option[EmailMessage] = None
  override def send(message: EmailMessage): Boolean = {
    val ok = inner.send(message)
    handoffNs = System.nanoTime()
    last = Some(message)
    ok
  }
}

/** The reference's flagship report and the frames the generator feeds it. */
object Report {
  val Sql: String =
    """SELECT o.*, c.c_name AS customer_name
      |FROM orders AS o
      |JOIN customer AS c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin

  def spec(work: String): ReportSpec = ReportSpec(
    senderEmail = "reports@graft.local",
    recipientEmail = "customer@graft.local",
    subject = "Download Link for Data",
    reportRoot = s"$work/reports")

  def email(rs: ReportSpec, h: ReportHandle): EmailMessage = EmailMessage(
    rs.senderEmail, rs.recipientEmail, rs.subject, DownloadReportEmailTemplate(h.url).render())

  private val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("ts", LongType)))

  private val CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  private def row(o: OrderRow): Row = Row(o.key, o.custKey, o.status, o.priceCents / 100.0,
    new java.sql.Timestamp(o.orderDay * 86400000L), o.priority, o.ts)

  /** A batch, made in this JVM and handed to Spark as local rows. */
  def orders(spark: SparkSession, rows: Seq[OrderRow]): DataFrame =
    spark.createDataFrame(rows.map(row).asJava, OrdersSchema)

  /** The base tables are generated in parallel tasks, one row per key. */
  def baseOrders(spark: SparkSession, seed: Long, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0, Gen.Orders, 1, parts)
      .map(k => row(Gen.baseOrder(seed, k))), OrdersSchema)

  def customers(spark: SparkSession, seed: Long, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0, Gen.Customers, 1, parts).map { k =>
      val c = Gen.customer(seed, k)
      Row(c.key, f"Customer#${c.key}%09d", c.nation, c.acctbalCents / 100.0, c.segment)
    }, CustomerSchema)

  /** The delivered CSV must match `want`, and the email must carry its link. */
  def check(sender: StampingSender, h: ReportHandle, want: Expect): Option[String] =
    if (!sender.last.exists(_.htmlBody.contains(h.url))) Some(s"email lacks the link ${h.url}")
    else Check.report(Paths.get(h.path), want)
}

/** One workload: fixture tables, then cycles run in a closed loop.
  * Cycle 0 is the first cycle of set-up; each cycle checks its own
  * output outside the timer.
  */
trait Workload {
  /** Cycles run during set-up, before timing starts. */
  def warmups: Int
  /** The span whose Spark work reads the incremental source, if any. */
  def pullSpan: Option[String]
  def setup(): Unit
  def cycle(k: Int): CycleRecord
  /** Re-reads what the last cycle pulled; its row count. */
  def probe: Option[() => Long]
  /** End-of-run check, and the metrics only the end of a run can give. */
  def finish(): (Option[String], Map[String, Double])
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "report_full" => new PipelineWorkload(ctx, incremental = false)
    case "report_inc" => new PipelineWorkload(ctx, incremental = true)
    case "upsert_inc" => new UpsertWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (report_full, report_inc, upsert_inc)")
  }

  def secs(ns: Long): Double = ns / 1e9

  def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files (path -> bytes) under `root`, skipping `.hoodie` metadata. */
  def dataFiles(spark: SparkSession, root: String): Map[String, Long] = {
    val it = fs(spark, root).listFiles(new Path(root), true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (p.endsWith(".parquet") && !p.contains("/.hoodie/")) out += p -> st.getLen
    }
    out.result()
  }

  def totalBytes(spark: SparkSession, root: String): Long =
    fs(spark, root).getContentSummary(new Path(root)).getLength
}

/** `report_full` and `report_inc`: one `ReportPipeline.run` per cycle
  * over `orders` (FULL, or INC on an append-only table that gains one
  * batch file per cycle) and `customer` (FULL).
  */
final class PipelineWorkload(ctx: Ctx, incremental: Boolean) extends Workload {
  import Workload._
  import ctx._

  val warmups = 4
  val pullSpan: Option[String] = if (incremental) Some("pipeline.load") else None
  private val ordersPath = s"$work/orders"
  private val sender = new StampingSender
  private val pipeline = new ReportPipeline(spark, s"$work/checkpoints", sender)
  private val report = Report.spec(work)
  private val spec = PipelineSpec(
    sources = Seq(
      SourceSpec("orders", ordersPath, if (incremental) LoadMode.Incremental else LoadMode.Full),
      SourceSpec("customer", s"$work/customer")),
    transform = TransformSpec(Report.Sql),
    report = Some(report),
    qualityGate = if (incremental) None else Some((r: DataFrame) => Seq(
      QualityChecks.notNull(r, "o_orderkey", "orderkey_not_null"),
      QualityChecks.unique(r, Seq("o_orderkey"), "orderkey_unique"),
      QualityChecks.acceptedValues(r, "o_orderpriority", Seq(Gen.Urgent), "priority_urgent"))))
  private var full = Expect(0, 0)

  def setup(): Unit = {
    Report.baseOrders(spark, seed, cores).write.parquet(ordersPath)
    Report.customers(spark, seed, cores).write.parquet(s"$work/customer")
    full = Gen.reportOf(Gen.baseOrders(seed))
  }

  /** `run`'s own public calls in `run`'s order, each in a span. */
  private def tracedRun(): ReportHandle = tracer("cycle") {
    val h = tracer("report") {
      tracer("pipeline.load")(pipeline.loadSources(spec))
      val df = tracer("plans.plan") {
        val d = spark.sql(spec.transform.query)
        d.queryExecution.executedPlan
        d
      }
      spec.qualityGate.foreach { gate =>
        tracer("operators.gate") {
          val failed = QualityChecks.run(gate(df)).collect().filterNot(_.getAs[Boolean]("passed"))
          if (failed.nonEmpty) throw new QualityGateFailed(failed.map(_.getString(0)).toSeq)
        }
      }
      val h = tracer("pipeline.report_write")(
        new ReportWriter(report.reportRoot).write(df, report.fileExpiresInSeconds))
      tracer("pipeline.email")(sender.send(Report.email(report, h)))
      h
    }
    tracer("sources.checkpoint")(pipeline.commitPending())
    h
  }

  def cycle(k: Int): CycleRecord = {
    // cycle 0 of INC has no checkpoint yet, so it reads the whole table
    val want = if (incremental && k > 0) {
      val batch = Gen.appendBatch(seed, k)
      Report.orders(spark, batch).coalesce(1).write.mode("append").parquet(ordersPath)
      Gen.reportOf(batch)
    } else full
    val handedOver = System.nanoTime()
    val gc0 = gcNs()
    val t0 = System.nanoTime()
    val h = if (tracer.on) tracedRun() else pipeline.run(spec)._2.get
    val t1 = System.nanoTime()
    val rec = CycleRecord(k, tracer.on, secs(t1 - t0), secs(sender.handoffNs - t0),
      secs(sender.handoffNs - handedOver), secs(gcNs() - gc0),
      tableFiles = if (incremental) dataFiles(spark, ordersPath).size else 0,
      error = Report.check(sender, h, want))
    fs(spark, h.path).delete(new Path(h.path), false)
    rec
  }

  def probe: Option[() => Long] =
    if (incremental) Some(() => spark.table("orders").count()) else None

  def finish(): (Option[String], Map[String, Double]) = (None, Map.empty)
}

/** `upsert_inc`: a Hudi COW `orders` table keyed on `o_orderkey`. Each
  * cycle upserts a batch (cleaning inline every few commits, as Hudi's
  * automatic cleaner does), pulls what changed since the checkpoint and
  * reports it.
  */
final class UpsertWorkload(ctx: Ctx) extends Workload {
  import Workload._
  import ctx._

  val warmups = 2
  val pullSpan: Option[String] = Some("sources.pull")
  /** Clean every third commit, keeping the last three instants. */
  private val CleanEvery = 3
  private val RetainInstants = 3
  private val table = s"$work/orders_hudi"
  private val store = new CheckpointStore(s"$work/checkpoints", spark.sparkContext.hadoopConfiguration)
  private val sender = new StampingSender
  private val report = Report.spec(work)
  private val writer = new ReportWriter(report.reportRoot)
  private val model = new UpsertModel(seed)
  private var full = Expect(0, 0)
  private var baseBytesPerRow = 0.0
  private var lastPull: Option[DataFrame] = None

  def setup(): Unit = {
    val base = Gen.baseOrders(seed)
    model.load(base)
    full = Gen.reportOf(base)
    HudiTableWriter.create(Report.baseOrders(spark, seed, cores), table, tableName = "orders",
      recordKeys = Seq("o_orderkey"))
    baseBytesPerRow = dataFiles(spark, table).values.sum.toDouble / base.size
    Report.customers(spark, seed, cores).write.parquet(s"$work/customer")
    spark.read.parquet(s"$work/customer").createOrReplaceTempView("customer")
  }

  def cycle(k: Int): CycleRecord = {
    // cycle 0 has no checkpoint yet: the pull is the whole snapshot
    val batch = if (k > 0) model.batch(k) else IndexedSeq.empty
    val want = if (k > 0) Gen.reportOf(batch) else full
    val batchDf = Report.orders(spark, batch)
    val before = dataFiles(spark, table)
    val gc0 = gcNs()
    val t0 = System.nanoTime()
    var commitNs, cleanNs = -1L
    val h = tracer("cycle") {
      if (k > 0) {
        tracer("sources.upsert")(TableLoader.upsert(batchDf, table, Seq("o_orderkey")))
        if (k % CleanEvery == 0) {
          val c0 = System.nanoTime()
          tracer("sources.clean")(HudiTableWriter.clean(spark, table, RetainInstants))
          cleanNs = System.nanoTime() - c0
        }
        commitNs = System.nanoTime() - t0
      }
      val (h, token) = tracer("report") {
        val (inc, token) = tracer("sources.pull")(
          TableLoader.pullIncremental(spark, table, "orders", store))
          .getOrElse(throw new IllegalStateException(s"$table: no commit to pull"))
        inc.createOrReplaceTempView("orders")
        lastPull = Some(inc)
        val df = tracer("plans.plan") {
          val d = spark.sql(Report.Sql)
          if (tracer.on) d.queryExecution.executedPlan
          d
        }
        val h = tracer("pipeline.report_write")(writer.write(df, report.fileExpiresInSeconds))
        tracer("pipeline.email")(sender.send(Report.email(report, h)))
        (h, token)
      }
      tracer("sources.checkpoint")(TableLoader.commitToken(table, "orders", store, token))
      h
    }
    val t1 = System.nanoTime()
    val reportStart = if (commitNs < 0) t0 else t0 + commitNs
    val after = dataFiles(spark, table)
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    val rec = CycleRecord(k, tracer.on, secs(t1 - t0), secs(sender.handoffNs - reportStart),
      secs(sender.handoffNs - t0), secs(gcNs() - gc0),
      commitS = if (commitNs < 0) Double.NaN else secs(commitNs),
      cleanS = if (cleanNs < 0) Double.NaN else secs(cleanNs),
      batchRows = batch.size,
      filesAdded = added.size, bytesAdded = added.toSeq.map(after).sum,
      filesRemoved = removed.size, bytesRemoved = removed.toSeq.map(before).sum,
      tableFiles = after.size,
      error = Report.check(sender, h, want))
    fs(spark, h.path).delete(new Path(h.path), false)
    rec
  }

  def probe: Option[() => Long] = Some(() => lastPull.map(_.count()).getOrElse(0L))

  def finish(): (Option[String], Map[String, Double]) = {
    val snap = TableLoader.open(spark, table)
    val row = snap.selectExpr("count(*)",
      "CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) * 100 AS BIGINT)").head()
    val live = snap.inputFiles.map(f => fs(spark, f).getFileStatus(new Path(f)).getLen).sum
    val err = Check.snapshot(Expect(row.getLong(0), row.getLong(1)), model.snapshot)
    (err, Map("space_amp" -> totalBytes(spark, table).toDouble / live,
      "base_bytes_per_row" -> baseBytesPerRow))
  }
}
