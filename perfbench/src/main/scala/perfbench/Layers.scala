package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, from the spans and the job log.
  *
  * Aggregation rules: a `<layer>_ms` is the mean duration of that layer's
  * spans; a counter is its mean over the spans that carry it; `per op`
  * numbers are means over the run's ops (probes excluded); ratios are taken
  * over sums.
  */
object Layers {
  final case class Result(metrics: Map[String, (Double, String)], classes: Map[String, ClassStats])

  final case class ClassStats(n: Int, p50Ms: Double, coverage: Double, driverShare: Double,
      selfMs: Map[String, Double], otherMs: Double)

  val LlmOps = Seq("exact_dedup", "minhash_lsh", "neardup_pairs", "quality", "kmeans_twolevel",
    "semantic_dedup", "ivf_topk", "lsh_topk", "rrf_fuse", "brute_force_topk")

  /** Total length of the union of [a, b) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  /** `llm.*` numbers are emitted for `corpus_curate` only, the one workload
    * that calls the layer.
    */
  def aggregate(headClass: String, withLlm: Boolean): Result = {
    val spans = Trace.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobs = Trace.jobs.bySpan
    def kids(s: Span) = children.getOrElse(s.id, Nil)
    def selfMs(s: Span): Double =
      s.ms - union(kids(s).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))) / 1e6
    def named(n: String) = spans.filter(_.name == n)
    def meanMs(n: String): Double = mean(named(n).map(_.ms))
    def attr(n: String): Seq[Double] = spans.flatMap(_.attrs.get(n))
    def meanAttr(n: String): Double = mean(attr(n))
    def sumAttr(n: String): Double = attr(n).sum
    def jobAgg(ids: Seq[Long]) = ids.flatMap(id => Option(jobs.get(id)))

    val roots = spans.filter(s => s.parent == -1 && s.name == "op")
    val ops = roots.filter(r => Trace.opClass.get(r.id).exists(_ != "probe"))
    val byOp = spans.groupBy(_.op)
    final case class OpNums(cls: String, wall: Double, covered: Double, driverShare: Double,
        cpuMs: Double, jobs: Double, stages: Double, tasks: Double, input: Double,
        records: Double, shuffle: Double, peak: Double, jobWallMs: Double)
    val opNums = ops.map { r =>
      val mine = byOp(r.op)
      val a = jobAgg(mine.map(_.id))
      val jobWall = union(a.flatMap(_.intervals.toSeq)).toDouble
      val covered = union(kids(r).map(k => (k.startNs, k.endNs))) / 1e6
      OpNums(Trace.opClass(r.id), r.ms, covered, 1 - math.min(1.0, jobWall / math.max(r.ms, 1e-9)),
        a.map(_.cpuNs).sum / 1e6, a.map(_.jobs).sum.toDouble, a.map(_.stages).sum.toDouble,
        a.map(_.tasks).sum.toDouble, a.map(_.inputBytes).sum.toDouble,
        a.map(_.recordsRead).sum.toDouble, a.map(_.shuffleWrite).sum.toDouble,
        a.map(_.peakMem).foldLeft(0L)(math.max).toDouble, jobWall)
    }
    def perOp(f: OpNums => Double): Double = mean(opNums.map(f))
    def perOpSpans(names: String*): Double =
      mean(ops.map(r => byOp(r.op).filter(s => names.contains(s.name)).map(_.ms).sum))

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = m(name) = (if (v.isNaN) 0.0 else v, unit)

    put("catalog.load_ms", meanMs("catalog.load"), "ms")
    put("catalog.loads_per_op", mean(ops.map(r => byOp(r.op).count(_.name == "catalog.load").toDouble)), "count")
    put("catalog.metadata_json_bytes", meanAttr("catalog.metadata_json_bytes"), "B")
    put("format.manifest_list_ms", meanMs("format.manifest_list"), "ms")
    put("format.manifest_read_ms", meanMs("format.manifest_read"), "ms")
    put("format.manifests_per_snapshot", meanAttr("format.manifests_per_snapshot"), "count")
    put("table.plan_ms", meanMs("table.plan"), "ms")
    Seq("manifests_scanned", "manifests_skipped", "files_scanned", "files_matched",
      "delete_files_attached").foreach(k => put(s"table.plan.$k", meanAttr(s"table.plan.$k"), "count"))
    put("table.plan.match_ratio",
      sumAttr("table.plan.files_matched") / sumAttr("table.plan.files_scanned"), "ratio")
    put("table.read.delete_overhead_ms", meanAttr("table.read.delete_overhead_ms"), "ms")
    Seq("rows_deleted", "dv_files", "eq_delete_files", "pos_delete_files")
      .foreach(k => put(s"table.read.$k", meanAttr(s"table.read.$k"), "count"))
    put("table.write_ms", mean(named("table.write").map(selfMs)), "ms")
    put("table.write.files", meanAttr("table.write.files"), "count")
    put("table.write.bytes", meanAttr("table.write.bytes"), "B")
    put("table.write.rows_per_file", sumAttr("table.write.rows") / sumAttr("table.write.data_files"), "count")
    put("table.write.bytes_per_user_byte",
      sumAttr("table.write.bytes") / sumAttr("table.write.user_bytes"), "ratio")
    put("table.commit_ms", meanMs("table.commit"), "ms")
    Seq("attempts", "manifests_written").foreach(k =>
      put(s"table.commit.$k", meanAttr(s"table.commit.$k"), "count"))
    put("table.commit.io_bytes_written", meanAttr("table.commit.io_bytes_written"), "B")
    put("table.maintenance.compact_ms", meanMs("table.maintenance"), "ms")
    Seq("files_rewritten", "delete_files_removed").foreach(k =>
      put(s"table.maintenance.$k", meanAttr(s"table.maintenance.$k"), "count"))
    put("table.maintenance.bytes_rewritten", meanAttr("table.maintenance.bytes_rewritten"), "B")
    put("sources.plan_ms", meanMs("sources.plan"), "ms")
    put("sources.exec_ms", meanMs("sources.exec"), "ms")
    put("sources.exchanges", meanAttr("sources.exchanges"), "count")
    put("spark.driver_plan_ms", perOpSpans("spark.driver_plan", "sources.plan"), "ms")
    put("spark.driver_share", perOp(_.driverShare), "ratio")
    put("spark.exec_ms", perOpSpans("spark.exec", "sources.exec"), "ms")
    put("spark.jobs", perOp(_.jobs), "count")
    put("spark.stages", perOp(_.stages), "count")
    put("spark.tasks", perOp(_.tasks), "count")
    put("spark.task_cpu_ms", perOp(_.cpuMs), "ms")
    put("spark.task_cpu_per_wall", opNums.map(_.cpuMs).sum / opNums.map(_.jobWallMs).sum, "ratio")
    put("spark.input_bytes", perOp(_.input), "B")
    put("spark.rows_read_per_row_returned",
      opNums.map(_.records).sum / sumAttr("spark.rows_returned"), "ratio")
    put("spark.shuffle_write_bytes", perOp(_.shuffle), "B")
    put("spark.peak_exec_mem_bytes", opNums.map(_.peak).foldLeft(0.0)(math.max), "B")
    IoStats.Names.foreach { n =>
      put(n, mean(ops.map(_.attrs.getOrElse(n, 0.0))), "B")
    }
    if (withLlm) {
      LlmOps.foreach { op =>
        val ss = named(s"llm.$op")
        val aggs = ss.map(s => jobAgg(subtree(s, children).map(_.id)))
        put(s"llm.$op.ms", mean(ss.map(_.ms)), "ms")
        put(s"llm.$op.jobs", mean(aggs.map(_.map(_.jobs).sum.toDouble)), "count")
        put(s"llm.$op.shuffle_write_bytes", mean(aggs.map(_.map(_.shuffleWrite).sum.toDouble)), "B")
        put(s"llm.$op.task_cpu_ms", mean(aggs.map(_.map(_.cpuNs).sum / 1e6)), "ms")
      }
      put("llm.cc_rounds", meanAttr("llm.cc_rounds"), "count")
    }
    put("jvm.gc_ms", mean(ops.map(_.attrs.getOrElse("jvm.gc_ms", 0.0))), "ms")
    put("jvm.heap_after_gc_peak_mb", JvmStats.peakAfterGcMb, "MB")
    put("trace.op_coverage", opNums.map(_.covered).sum / opNums.map(_.wall).sum, "ratio")
    put("trace.other_ms", perOp(o => o.wall - o.covered), "ms")
    put("trace.p50_ms", Stats.median(opNums.filter(_.cls == headClass).map(_.wall)), "ms")

    val classes = opNums.groupBy(_.cls).map { case (cls, xs) =>
      val rs = ops.filter(r => Trace.opClass(r.id) == cls)
      val self = rs.flatMap(r => byOp(r.op).filter(_.id != r.id)).groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(selfMs).sum / rs.size }
      cls -> ClassStats(xs.size, Stats.median(xs.map(_.wall)),
        xs.map(_.covered).sum / xs.map(_.wall).sum, mean(xs.map(_.driverShare)), self,
        mean(xs.map(o => o.wall - o.covered)))
    }
    Result(m.toMap, classes)
  }

  private def subtree(s: Span, children: Map[Long, Seq[Span]]): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree(_, children))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The per-class breakdown and every span, as JSON. */
  def write(path: String, args: Main.Args, r: Result): Unit = {
    def num(v: Double) = Stats.num(v)
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val classes = r.classes.toSeq.sortBy(_._1).map { case (c, s) =>
      val self = s.selfMs.toSeq.sortBy(_._1).map { case (n, v) => s"${str(n)}: ${num(v)}" }.mkString(", ")
      s"""${str(c)}: {"ops": ${s.n}, "p50_ms": ${num(s.p50Ms)}, "layer_coverage": ${num(s.coverage)}, """ +
        s""""driver_share": ${num(s.driverShare)}, "other_ms_per_op": ${num(s.otherMs)}, "self_ms_per_op": {$self}}"""
    }.mkString(",\n    ")
    val metrics = r.metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(",\n    ")
    val spans = Trace.spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${str(s.name)}, """ +
        s""""class": ${str(Trace.opClass.getOrElse(s.op, ""))}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "attrs": {$attrs}}"""
    }.mkString(",\n    ")
    val json = s"""{"workload": ${str(args.workload)}, "seed": ${args.seed}, "seconds": ${num(args.seconds)},
  "classes": {
    $classes
  },
  "metrics": {
    $metrics
  },
  "spans": [
    $spans
  ]
}
"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
