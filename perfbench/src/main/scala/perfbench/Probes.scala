package perfbench

import org.apache.spark.sql.SparkSession

import graft.core.Expr
import graft.format.Manifests
import graft.table.Table

/** Traced-run measurements taken between ops, outside any op's wall: they
  * time layers the benchmark cannot separate inside one engine call.
  */
object Probes {

  /** Manifest list and manifest reads of the current snapshot. */
  def format(t: Table): Unit = t.metadata.currentSnapshot.foreach { snap =>
    val list = Trace.span("format.manifest_list")(Manifests.readManifestList(snap.manifestList))
    Trace.span("format.manifest_read")(list.foreach(m => Manifests.readManifest(m.path)))
    Trace.count("format.manifests_per_snapshot", list.size.toDouble)
  }

  /** Delete overhead: read the same planned tasks once with their deletes
    * and once with the deletes stripped.
    */
  def deletes(spark: SparkSession, t: Table): Unit = {
    val (tasks, _) = Calls.plan(t, Expr.AlwaysTrue)
    def timed(ts: Seq[graft.table.FileScanTask]): (Long, Long) = {
      val t0 = System.nanoTime()
      val n = Calls.readTasks(spark, t, ts).count()
      (n, System.nanoTime() - t0)
    }
    val (kept, withNs) = Trace.span("table.read.with_deletes")(timed(tasks))
    val (all, withoutNs) = Trace.span("table.read.no_deletes")(
      timed(tasks.map(_.copy(posDeletes = Nil, eqDeletes = Nil))))
    val pos = tasks.flatMap(_.posDeletes).distinctBy(d => (d.path, d.contentOffset))
    Trace.count("table.read.delete_overhead_ms", (withNs - withoutNs) / 1e6)
    Trace.count("table.read.rows_deleted", (all - kept).toDouble)
    Trace.count("table.read.dv_files", pos.count(_.format == "PUFFIN").toDouble)
    Trace.count("table.read.pos_delete_files", pos.count(_.format != "PUFFIN").toDouble)
    Trace.count("table.read.eq_delete_files",
      tasks.flatMap(_.eqDeletes.map(_._1.path)).distinct.size.toDouble)
  }
}
