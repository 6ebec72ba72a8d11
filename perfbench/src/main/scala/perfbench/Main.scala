package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: a fixture, a seeded op list and the answer checks. */
trait Workload {
  def ops: Vector[Op]
  /** Generate the raw inputs and the expected answers under `dir`. */
  def generate(dir: String): Unit
  /** Load the generated inputs into engine tables under `dir`; SQL reaches
    * them as catalog `catalog`. Runs several times; the last load is used.
    */
  def load(dir: String, catalog: String): Unit
  def warmupOps: Seq[Op]
  /** Generate the op's inputs; not timed. */
  def prepare(op: Op): Unit = ()
  /** Run one op and return its answer check, which runs after the op's
    * timer stops; false = wrong answer.
    */
  def run(op: Op): () => Boolean
  /** Traced runs only: measurements taken between ops. */
  def probe(op: Op, index: Int): Unit = ()
  /** End-of-run numbers reported next to the latencies. */
  def finish(): Seq[(String, Double, String)]
}

/** Runs one workload for a fixed time and prints its metrics.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--launched <epoch ms>]`
  *
  * Prints a human-readable report, then `RESULT <json>` as the last line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, launchedMs: Long)

  /** Table loads per run; `setup_s` takes their median. */
  val Loads = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"),
      m.get("launched").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  def registerCatalog(spark: SparkSession, name: String, warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.uri", warehouse)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(spark: SparkSession, name: String, seed: Long): Workload = {
    val ops = Gen.opsFor(name, seed)
    name match {
      case "scan_mix" => new ScanMix(spark, seed, ops)
      case "cdc_upsert" => new CdcUpsert(spark, seed, ops)
      case "corpus_curate" => new CorpusCurate(spark, seed, ops)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    val sessionS = (System.currentTimeMillis() - args.launchedMs) / 1000.0
    if (args.trace) { Trace.enable(spark.sparkContext); Calls.register() }
    val w = workload(spark, args.workload, args.seed)

    // generate once, load into engine tables several times in fresh
    // directories (the last load is used), then warm up
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val generateS = seconds(w.generate(s"${args.work}/input"))
    val loadS = (1 to Loads).map(i => seconds(w.load(s"${args.work}/fixture$i", s"bench$i")))
    val warmupS = seconds(w.warmupOps.foreach { op =>
      w.prepare(op); if (!w.run(op)()) fail(s"warm-up op $op: wrong answer")
    })
    val setupS = sessionS + generateS + Stats.median(loadS) + warmupS
    if (Trace.on) { Trace.spans.clear(); Trace.opClass.clear() }

    // the timed loop: one client, next op after the previous completes
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted, failed = 0
    val loopStart = System.nanoTime()
    val it = w.ops.iterator.zipWithIndex
    while ((System.nanoTime() - loopStart) / 1e9 < args.seconds && it.hasNext) {
      val (op, i) = it.next()
      w.prepare(op)
      attempted += 1
      val s0 = System.nanoTime()
      var ms = 0.0
      val ok = try {
        val check = Trace.op(op.cls)(w.run(op))
        ms = (System.nanoTime() - s0) / 1e6
        check()
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i $op failed: $e"); e.printStackTrace(); false
      }
      if (ok) lat.getOrElseUpdate(op.cls, mutable.ArrayBuffer.empty) += ms
      else { failed += 1; System.err.println(s"[perfbench] op $i $op: wrong answer or error") }
      if (Trace.on) Trace.op("probe")(w.probe(op, i))
    }
    val extra = w.finish()

    val head = HeadClass(args.workload)
    val headLat = lat.getOrElse(head, mutable.ArrayBuffer.empty).toSeq
    val busyS = lat.values.flatten.sum / 1000
    val completed = lat.values.map(_.size).sum
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (completed / busyS, "1/s"),
      "p50_ms" -> (Stats.median(headLat), "ms"))

    // human-readable report
    val out = new StringBuilder
    def line(s: String): Unit = out.append(s).append('\n')
    line(s"workload ${args.workload} seed ${args.seed} seconds ${args.seconds} trace ${if (args.trace) 1 else 0}")
    line(f"setup: session $sessionS%.3f s, generate $generateS%.3f s, " +
      f"loads ${loadS.map(x => f"$x%.3f").mkString(" ")} s, warm-up $warmupS%.3f s")
    line(s"ops attempted $attempted, failed $failed, failed_ops_share ${failed.toDouble / math.max(1, attempted)} ratio")
    line("op counts: " + lat.map { case (c, v) => s"$c=${v.size}" }.mkString(" "))
    val writes = lat.filter { case (c, _) => Op.Writes(c) }.values.flatten.toSeq
    val classes = lat.toSeq ++ (if (writes.isEmpty) Nil else Seq("write" -> writes))
    classes.foreach { case (c, v) =>
      line(f"  ${c}_p50_ms ${Stats.median(v.toSeq)}%.3f ms" + (Stats.tail(v.toSeq) match {
        case Some((p, t)) => f", ${c}_tail_ms $t%.3f ms (p$p, n=${v.size})"
        case None => s" (n=${v.size}, too few for a tail)"
      }))
    }
    extra.foreach { case (k, v, u) => line(f"  $k $v%.3f $u") }
    e2e.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => line(f"metric $k $v%.4f $u") }

    val metrics: Map[String, (Double, String)] =
      if (args.trace) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val layers = Layers.aggregate(head, withLlm = args.workload == "corpus_curate")
        Layers.write(s"${args.work}/trace.json", args, layers)
        layers.metrics
      } else e2e
    spark.stop()
    print(out)
    val correct = failed == 0
    val json = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""RESULT {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  /** The op class whose median is `p50_ms`. */
  val HeadClass = Map("scan_mix" -> "point", "cdc_upsert" -> "upsert", "corpus_curate" -> "pass")

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg"); sys.exit(3)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it, and
    * its value, if that percentile is p75 or higher.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 75 by -1).find(p => xs.size - math.ceil(xs.size * p / 100.0) >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
