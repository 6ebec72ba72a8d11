package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.catalog.HadoopCatalog
import graft.core.Expr
import graft.metrics.{CommitReport, MetricsReport, Reporter, ScanReport}
import graft.table.{FileScanTask, ScanMetrics, SparkRead, Table}

/** The benchmark's calls into the engine's entry points, each wrapped in the
  * span of the layer it enters. With tracing off the wrappers are plain
  * calls, so timed and traced runs do the same work.
  */
object Calls extends AdaptiveSparkPlanHelper {

  def load(cat: HadoopCatalog, name: String): Table = Trace.span("catalog.load") {
    val t = cat.loadTable(name)
    if (Trace.on) {
      Trace.count("catalog.loads", 1)
      val p = new org.apache.hadoop.fs.Path(t.metadataPath)
      Trace.count("catalog.metadata_json_bytes",
        p.getFileSystem(new org.apache.hadoop.conf.Configuration()).getFileStatus(p).getLen.toDouble)
    }
    t
  }

  def plan(t: Table, filter: Expr): (Seq[FileScanTask], ScanMetrics) = Trace.span("table.plan") {
    val (tasks, m) = t.newScan.withFilter(filter).planFilesWithMetrics()
    planAttrs(m.totalManifests - m.skippedManifests, m.skippedManifests, m.totalDataFiles,
      m.resultDataFiles, m.posDeleteFiles + m.eqDeleteFiles).foreach { case (k, v) => Trace.count(k, v) }
    (tasks, m)
  }

  private def planAttrs(scanned: Double, skipped: Double, files: Double, matched: Double,
      deletes: Double): Map[String, Double] = Map(
    "table.plan.manifests_scanned" -> scanned,
    "table.plan.manifests_skipped" -> skipped,
    "table.plan.files_scanned" -> files,
    "table.plan.files_matched" -> matched,
    "table.plan.delete_files_attached" -> deletes)

  /** The planned tasks as a frame; no tasks read as an empty frame, as in
    * `SparkRead.read`.
    */
  def readTasks(spark: SparkSession, t: Table, tasks: Seq[FileScanTask]): DataFrame =
    Trace.span("table.read") {
      if (tasks.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], graft.core.SchemaBridge.toSpark(t.schema))
      else SparkRead.readTasks(spark, tasks, t.schema, t.nameMapping, specById = t.metadata.specById)
    }

  /** Run a frame built through the engine's read API: force its physical
    * plan (driver planning), then execute that same plan.
    */
  def collect(df: DataFrame): Array[Row] = {
    Trace.span("spark.driver_plan")(df.queryExecution.executedPlan)
    Trace.span("spark.exec") {
      val rows = df.collect()
      Trace.count("spark.rows_returned", rows.length.toDouble)
      rows
    }
  }

  /** SQL through the Spark catalog plugin: analysis, optimization and DSv2
    * scan planning, then execution of the planned query.
    */
  def sql(spark: SparkSession, text: String): Array[Row] = {
    val df = Trace.span("sources.plan") {
      val d = spark.sql(text)
      d.queryExecution.executedPlan
      d
    }
    Trace.span("sources.exec") {
      val rows = df.collect()
      if (Trace.on) {
        Trace.count("spark.rows_returned", rows.length.toDouble)
        Trace.count("sources.exchanges", exchanges(df.queryExecution.executedPlan).toDouble)
      }
      rows
    }
  }

  def exchanges(plan: SparkPlan): Int = collect(plan) { case e: Exchange => e }.size

  /** Write-side call: the commit the engine reports inside it becomes a
    * `table.commit` child span, so the write span's self time is the write.
    * The byte counts are taken after the span closes.
    */
  def write(body: => Table): Table = {
    val io0 = if (Trace.on) IoStats.bytesWritten() else 0L
    val t = Trace.span("table.write")(body)
    if (Trace.on) {
      Trace.count("table.write.bytes", (IoStats.bytesWritten() - io0).toDouble)
      Trace.count("table.commit.io_bytes_written", commitIoBytes(t).toDouble)
    }
    t
  }

  def maintain[T](body: => T): T = Trace.span("table.maintenance")(body)

  /** Bytes of metadata the last commit wrote: the metadata JSON, the
    * manifest list and the manifests the new snapshot added.
    */
  private def commitIoBytes(t: Table): Long = t.metadata.currentSnapshot.map { snap =>
    val conf = new org.apache.hadoop.conf.Configuration()
    def len(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    val added = graft.format.Manifests.readManifestList(snap.manifestList)
      .filter(_.addedSnapshotId == snap.snapshotId)
    len(t.metadataPath) + len(snap.manifestList) + added.map(_.length).sum
  }.getOrElse(0L)

  /** Receives the engine's spec scan and commit reports on traced tables
    * (table property `metrics-reporter-impl = perfbench`).
    */
  object Reports extends Reporter {
    def report(r: MetricsReport): Unit = r match {
      case c: CommitReport =>
        val m = c.metrics
        def v(x: Option[graft.metrics.CounterResult]) = x.map(_.value.toDouble).getOrElse(0.0)
        // file counts describe writes; a compaction's commit is maintenance
        val written =
          if (Trace.current.exists(_.name == "table.write")) Map(
            "table.write.files" -> (v(m.addedDataFiles) + v(m.addedDeleteFiles)),
            "table.write.data_files" -> v(m.addedDataFiles),
            "table.write.rows" -> v(m.addedRecords))
          else Map.empty
        Trace.child("table.commit", m.totalDuration.map(_.totalDuration).getOrElse(0L), Map(
          "table.commit.attempts" -> v(m.attempts),
          "table.commit.manifests_written" -> v(m.manifestsCreated)) ++ written)
      case s: ScanReport =>
        // plans the engine runs inside other calls (SQL scans, writes);
        // the benchmark's own plan calls are already a span
        if (!Trace.current.exists(_.name == "table.plan")) {
          val m = s.metrics
          def v(x: Option[graft.metrics.CounterResult]) = x.map(_.value.toDouble).getOrElse(0.0)
          Trace.child("table.plan", m.totalPlanningDuration.map(_.totalDuration).getOrElse(0L),
            planAttrs(v(m.scannedDataManifests), v(m.skippedDataManifests),
              v(m.resultDataFiles) + v(m.skippedDataFiles), v(m.resultDataFiles),
              v(m.resultDeleteFiles)))
        }
    }
  }

  def register(): Unit = graft.metrics.Registry.register("perfbench", _ => Reports)

  /** Table properties that route the engine's reports to [[Reports]]. */
  def reportProps: Map[String, String] =
    if (Trace.on) Map(graft.metrics.Registry.ReporterImplKey -> "perfbench") else Map.empty
}
