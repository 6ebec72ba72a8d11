package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.HadoopCatalog
import graft.core.{Expr, SchemaBridge, Transforms}
import graft.format.{PartitionSpec, SortField, SortOrder}
import graft.table.Writer

/** Read-only mix over a `years(l_shipdate)` lineitem table appended in
  * [[ScanMix.Commits]] contiguous `l_orderkey` ranges (one manifest each),
  * plus `orders` bucketed on its key.
  */
final class ScanMix(spark: SparkSession, seed: Long, val ops: Vector[Op]) extends Workload {
  import ScanMix._

  private var cat: HadoopCatalog = _
  private var catalogName: String = _
  // answers computed from the raw parquet with plain Spark
  private var pointExp: Map[Long, Agg] = Map.empty
  private var monthExp: Map[(Int, String, String), Agg] = Map.empty
  private var fullExp: Map[(Int, String), Agg] = Map.empty

  private var raw: String = _

  def generate(dir: String): Unit = {
    raw = dir
    Gen.lineitem(spark, seed).write.parquet(s"$raw/lineitem")
    Gen.orders(spark, seed).write.parquet(s"$raw/orders")
    val li = spark.read.parquet(s"$raw/lineitem")
    val od = spark.read.parquet(s"$raw/orders")

    import spark.implicits._
    val keys = (ops ++ warmupOps).collect { case PointOp(k) => k }.distinct.toDF("l_orderkey")
    pointExp = li.join(broadcast(keys), "l_orderkey").groupBy("l_orderkey")
      .agg(aggCols.head, aggCols.tail: _*).collect().map(r => r.getLong(0) -> agg(r, 1)).toMap
    val monthIdx = (year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1
    monthExp = li.groupBy(monthIdx.as("m"), col("l_returnflag"), col("l_linestatus"))
      .agg(aggCols.head, aggCols.tail: _*).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> agg(r, 3)).toMap
    fullExp = li.join(od, li("l_orderkey") === od("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("y"), col("o_orderpriority"))
      .agg(aggCols.head, aggCols.tail: _*).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> agg(r, 2)).toMap
  }

  def load(dir: String, catalog: String): Unit = {
    val li = spark.read.parquet(s"$raw/lineitem")
    val od = spark.read.parquet(s"$raw/orders")
    cat = new HadoopCatalog(s"$dir/wh")
    val liSchema = SchemaBridge.fromSpark(li.schema)
    val key = liSchema.findField("l_orderkey").get.id
    // sorted on l_orderkey and rolled every ~RowsPerFile rows (about one
    // commit's worth), so each data file covers one contiguous key range
    // inside its year
    val t0 = cat.createTable("lineitem", liSchema,
      PartitionSpec.builder(liSchema).add("l_shipdate", Transforms.Years).build(),
      SortOrder(1, Seq(SortField(key, Transforms.Identity, ascending = true, nullsFirst = true))),
      Map("write.target-file-size-bytes" ->
        (RowsPerFile * SchemaBridge.toSpark(liSchema).defaultSize).toString) ++ Calls.reportProps)
    val files = Writer.writeDataFiles(spark, t0, li)
    // then one append per key range: a snapshot and a manifest each
    val step = (Gen.Orders + Commits - 1) / Commits
    files.groupBy(f => (lowerLong(f, key) - 1) / step).toSeq.sortBy(_._1)
      .foldLeft(t0) { case (t, (_, fs)) =>
        Writer.commitSnapshot(t, "append", addedFiles = fs, removedPaths = Set.empty,
          addedDeleteFiles = Nil)
      }
    val oSchema = SchemaBridge.fromSpark(od.schema)
    Writer.append(spark, cat.createTable("orders", oSchema,
      PartitionSpec.builder(oSchema).add("o_orderkey", Transforms.Bucket(8)).build(),
      properties = Calls.reportProps), od)
    catalogName = catalog
    Main.registerCatalog(spark, catalog, s"$dir/wh")
  }

  def warmupOps: Seq[Op] = Seq(PointOp(1), PointOp(Gen.Orders), RangeOp(10, 2),
    FullOp(1995), PointOp(Gen.Orders / 2), RangeOp(40, 1))

  def run(op: Op): () => Boolean = op match {
    case PointOp(k) =>
      val rows = scan(Expr.eq("l_orderkey", k), Nil)
      () => rows.length == 1 && same(agg(rows(0), 0), pointExp(k))
    case RangeOp(m0, n) =>
      val rows = scan(Expr.and(Expr.gtEq("l_shipdate", Gen.monthStart(m0)),
        Expr.lt("l_shipdate", Gen.monthStart(m0 + n))), Seq("l_returnflag", "l_linestatus"))
      () => {
      val got = rows.map(r => (r.getString(0), r.getString(1)) -> agg(r, 2)).toMap
      val want = monthExp.toSeq.filter { case ((m, _, _), _) => m >= m0 && m < m0 + n }
        .groupMapReduce { case ((_, f, s), _) => (f, s) }(_._2)(plus)
      got.keySet == want.keySet && want.forall { case (k, v) => same(got(k), v) }
      }
    case FullOp(y) =>
      val rows = Calls.sql(spark, s"""SELECT o.o_orderpriority, COUNT(*), SUM(l.l_quantity),
          SUM(l.l_extendedprice)
        FROM $catalogName.lineitem l JOIN $catalogName.orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= DATE'$y-01-01' AND o.o_orderdate < DATE'${y + 1}-01-01'
        GROUP BY o.o_orderpriority""")
      () => {
      val got = rows.map(r => r.getString(0) -> agg(r, 1)).toMap
      val want = fullExp.collect { case ((yy, p), v) if yy == y => p -> v }
      got.keySet == want.keySet && want.forall { case (k, v) => same(got(k), v) }
      }
    case other => throw new IllegalArgumentException(s"scan_mix cannot run $other")
  }

  /** Plan, read and aggregate through the table-scan API. */
  private def scan(filter: Expr, groupBy: Seq[String]): Array[Row] = {
    val t = Calls.load(cat, "lineitem")
    val (tasks, _) = Calls.plan(t, filter)
    val df = Calls.readTasks(spark, t, tasks).filter(Expr.toColumn(filter))
    Calls.collect(df.groupBy(groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*))
  }

  override def probe(op: Op, index: Int): Unit = op match {
    case PointOp(_) if index % 5 == 0 => Probes.format(cat.loadTable("lineitem"))
    case _ =>
  }

  def finish(): Seq[(String, Double, String)] = Nil
}

object ScanMix {
  val Commits = 90
  val RowsPerFile = 6000

  private def lowerLong(f: graft.format.DataFile, fieldId: Int): Long =
    java.nio.ByteBuffer.wrap(f.lowerBounds(fieldId)).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong

  /** count, Σ quantity (long), Σ extended price (exact decimal). */
  type Agg = (Long, Long, java.math.BigDecimal)

  val aggCols = Seq(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))

  def agg(r: Row, i: Int): Agg = (r.getLong(i), r.getLong(i + 1), r.getDecimal(i + 2))

  def plus(a: Agg, b: Agg): Agg = (a._1 + b._1, a._2 + b._2, a._3.add(b._3))

  def same(a: Agg, b: Agg): Boolean = a._1 == b._1 && a._2 == b._2 && a._3.compareTo(b._3) == 0
}
