package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge}
import graft.format.PartitionSpec
import graft.table.{Maintenance, Writer}

/** Keyed v3 `documents` table under upserts (eq-deletes + inserts), appends
  * and deletion-vector deletes, each followed by a SQL read-back, with a
  * compaction every [[Gen.CompactEvery]] writes. Answers are checked against
  * a driver-side keyed model of the table.
  */
final class CdcUpsert(spark: SparkSession, seed: Long, val ops: Vector[Op]) extends Workload {
  private var cat: HadoopCatalog = _
  private var catalogName: String = _
  private var tableDir: String = _
  // doc_id -> (lang, n_chars), plus per-lang (rows, Σ n_chars)
  private val model = mutable.HashMap.empty[Long, (String, Long)]
  private val byLang = mutable.HashMap.empty[String, (Long, Long)]
  private var schema: org.apache.spark.sql.types.StructType = _

  private def put(k: Long, lang: String, chars: Long): Unit = {
    remove(k)
    model(k) = (lang, chars)
    val (n, s) = byLang.getOrElse(lang, (0L, 0L))
    byLang(lang) = (n + 1, s + chars)
  }

  private def remove(k: Long): Unit = model.remove(k).foreach { case (lang, chars) =>
    val (n, s) = byLang(lang)
    byLang(lang) = (n - 1, s - chars)
  }

  private var raw: String = _

  def generate(dir: String): Unit = {
    raw = s"$dir/documents"
    Gen.cdcDocuments(spark, seed, 0, Gen.CdcRows).write.parquet(raw)
    val docs = spark.read.parquet(raw)
    schema = docs.schema
    docs.select("doc_id", "lang", "n_chars").collect()
      .foreach(r => put(r.getLong(0), r.getString(1), r.getLong(2)))
  }

  def load(dir: String, catalog: String): Unit = {
    val docs = spark.read.parquet(raw)
    cat = new HadoopCatalog(s"$dir/wh")
    Writer.append(spark, cat.createTable("documents", SchemaBridge.fromSpark(schema),
      PartitionSpec.Unpartitioned, properties = Map("format-version" -> "3") ++ Calls.reportProps),
      docs)
    tableDir = cat.tableLocation("documents")
    catalogName = catalog
    Main.registerCatalog(spark, catalog, s"$dir/wh")
  }

  /** Rounds of one op of each kind, long enough for the write paths to be
    * compiled before timing; the appends use keys far above the op list's.
    */
  def warmupOps: Seq[Op] = (0 until 2).flatMap { j =>
    Seq(UpsertOp(j.toLong until 2L * Gen.CdcBatch by 2, seed + j), ReadOp,
      AppendOp((1L << 40) + j * Gen.CdcBatch, Gen.CdcBatch, seed + j), ReadOp,
      DvDeleteOp(1000 + 200 * j, 1100 + 200 * j), ReadOp) ++
      Seq(CompactOp, ReadOp)
  }

  /** Rows for the next write, generated (and collected) before its timer. */
  private var staged: Option[(Op, Array[Row])] = None

  override def prepare(op: Op): Unit = staged = op match {
    case UpsertOp(keys, salt) =>
      Some(op -> Gen.cdcDocuments(spark, seed, keys, salt).collect())
    case AppendOp(first, n, salt) =>
      Some(op -> Gen.cdcDocuments(spark, seed, first until first + n, salt).collect())
    case _ => None
  }

  private def rowsOf(op: Op): DataFrame = {
    val rows = staged.collect { case (o, r) if o == op => r }.getOrElse(
      throw new IllegalStateException(s"no staged rows for $op"))
    Trace.count("table.write.user_bytes",
      rows.map(r => 16L + r.getString(1).length + r.getString(2).length + r.getString(3).length).sum.toDouble)
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  def run(op: Op): () => Boolean = op match {
    case UpsertOp(_, _) =>
      val t = Calls.load(cat, "documents")
      val df = rowsOf(op)
      Calls.write(Writer.upsert(spark, t, df, Seq("doc_id")))
      staged.get._2.foreach(r => put(r.getLong(0), r.getString(2), r.getLong(4)))
      () => true
    case AppendOp(_, _, _) =>
      val t = Calls.load(cat, "documents")
      val df = rowsOf(op)
      Calls.write(Writer.append(spark, t, df))
      staged.get._2.foreach(r => put(r.getLong(0), r.getString(2), r.getLong(4)))
      () => true
    case DvDeleteOp(from, until) =>
      val t = Calls.load(cat, "documents")
      Calls.write(Writer.deleteWhereDV(spark, t,
        Expr.and(Expr.gtEq("doc_id", from), Expr.lt("doc_id", until))))
      (from until until).foreach(remove)
      () => true
    case CompactOp =>
      val t = Calls.load(cat, "documents")
      val r = Calls.maintain {
        val io0 = IoStats.bytesWritten()
        val r = Maintenance.rewriteDataFiles(spark, t)
        Trace.count("table.maintenance.files_rewritten", r.rewrittenDataFiles.toDouble)
        Trace.count("table.maintenance.delete_files_removed", r.removedDeleteFiles.toDouble)
        Trace.count("table.maintenance.bytes_rewritten", (IoStats.bytesWritten() - io0).toDouble)
        r
      }
      () => r.table.metadata.currentSnapshot.nonEmpty
    case ReadOp =>
      val rows = Calls.sql(spark,
        s"SELECT lang, COUNT(*), SUM(n_chars) FROM $catalogName.documents GROUP BY lang")
      val want = byLang.filter(_._2._1 > 0).toMap
      () => rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap == want
    case other => throw new IllegalArgumentException(s"cdc_upsert cannot run $other")
  }

  override def probe(op: Op, index: Int): Unit = (op, index % 4) match {
    case (ReadOp, 1) => Probes.deletes(spark, cat.loadTable("documents"))
    case (ReadOp, 3) => Probes.format(cat.loadTable("documents"))
    case _ =>
  }

  /** Bytes under the table location over live rows. */
  def finish(): Seq[(String, Double, String)] = {
    val root = java.nio.file.Paths.get(tableDir.stripPrefix("file:"))
    val bytes = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
    Seq(("stored_bytes_per_row", bytes.toDouble / model.size, "B"))
  }
}
