package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One client request. `cls` is the op class the latency is reported under. */
sealed trait Op {
  def cls: String
  def isWrite: Boolean = Op.Writes.contains(cls)
}

object Op { val Writes = Set("upsert", "append", "dv_delete") }

/** `l_orderkey = key` through the table-scan API. */
final case class PointOp(key: Long) extends Op { val cls = "point" }

/** `l_shipdate` in [month0, month0 + months) (months since 1992-01),
  * grouped by return flag and line status, through the table-scan API.
  */
final case class RangeOp(month0: Int, months: Int) extends Op { val cls = "range" }

/** SQL `lineitem ⋈ orders` grouped by priority for one order year. */
final case class FullOp(year: Int) extends Op { val cls = "full" }

/** Replace or insert `keys`; `salt` seeds the new row contents. */
final case class UpsertOp(keys: Seq[Long], salt: Long) extends Op { val cls = "upsert" }

/** Insert `n` fresh keys starting at `first`. */
final case class AppendOp(first: Long, n: Int, salt: Long) extends Op { val cls = "append" }

/** Deletion-vector delete of `doc_id` in [from, until). */
final case class DvDeleteOp(from: Long, until: Long) extends Op { val cls = "dv_delete" }

/** SQL aggregate read-back of the whole documents table. */
case object ReadOp extends Op { val cls = "read" }

/** Bin-pack compaction of the documents table. */
case object CompactOp extends Op { val cls = "compact" }

/** One curation pass; `queryIds` are the retrieval stage's query vectors. */
final case class PassOp(queryIds: Seq[Long]) extends Op { val cls = "pass" }

/** Seeded inputs. Everything the engine receives is a pure function of the
  * seed: the op lists below, and the fixture frames, whose columns are
  * `xxhash64(seed, row, column-salt)` draws.
  */
object Gen {
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)
  val Months = 84 // 1992-01 .. 1998-12

  // scan_mix: sf0.1 lineitem / orders shapes
  val Orders = 150000L
  // cdc_upsert
  val CdcRows = 50000L
  val CdcBatch = 200
  val CompactEvery = 4
  // corpus_curate
  val CorpusDocs = 4000L
  val CorpusVecs = 2000L
  val Dim = 32
  val Queries = 20

  private def shuffled[T](r: SplittableRandom, xs: Vector[T]): Vector[T] =
    xs.zip(Vector.fill(xs.size)(r.nextDouble())).sortBy(_._2).map(_._1)

  /** Blocks of ten ops (7 point, 2 range, 1 full) in seeded order, so every
    * prefix of the list holds the mix in nearly exact proportion.
    */
  def scanMixOps(seed: Long, n: Int): Vector[Op] = {
    val r = new SplittableRandom(seed * 31 + 1)
    Vector.fill((n + 9) / 10)(shuffled(r, Vector.fill(7)("point") ++ Vector("range", "range", "full")))
      .flatten.take(n).map {
        case "point" => PointOp(1 + r.nextLong(Orders))
        case "range" =>
          val len = 1 + r.nextInt(3)
          RangeOp(r.nextInt(Months - len + 1), len)
        case _ => FullOp(1992 + r.nextInt(7))
      }
  }

  /** Writes in blocks of 20 (12 upserts, 5 appends, 3 DV deletes, in seeded
    * order), each followed by a read-back; a compaction and its read-back
    * after every [[CompactEvery]] writes. Keys are drawn from the id space
    * so far, so the list needs no table state.
    */
  def cdcOps(seed: Long, writes: Int): Vector[Op] = {
    val r = new SplittableRandom(seed * 31 + 2)
    var next = CdcRows
    val kinds = Vector.fill((writes + 19) / 20)(
      shuffled(r, Vector.fill(12)("upsert") ++ Vector.fill(5)("append") ++ Vector.fill(3)("dv")))
      .flatten.take(writes)
    kinds.zipWithIndex.flatMap { case (kind, i) =>
      val op = kind match {
        case "upsert" =>
          val keys = Iterator.continually(r.nextLong(next)).distinct.take(CdcBatch).toVector
          UpsertOp(keys.sorted, r.nextLong())
        case "append" =>
          val a = AppendOp(next, CdcBatch, r.nextLong())
          next += CdcBatch
          a
        case _ =>
          val from = r.nextLong(next)
          DvDeleteOp(from, from + 1 + r.nextInt(CdcBatch))
      }
      Vector(op, ReadOp) ++ (if ((i + 1) % CompactEvery == 0) Vector(CompactOp, ReadOp) else Nil)
    }
  }

  def corpusOps(seed: Long, passes: Int): Vector[Op] = {
    val r = new SplittableRandom(seed * 31 + 3)
    Vector.fill(passes)(PassOp(
      Iterator.continually(r.nextLong(CorpusVecs)).distinct.take(Queries).toVector.sorted))
  }

  def opsFor(workload: String, seed: Long): Vector[Op] = workload match {
    case "scan_mix" => scanMixOps(seed, 6000)
    case "cdc_upsert" => cdcOps(seed, 2000)
    case "corpus_curate" => corpusOps(seed, 200)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def monthStart(m: Int): LocalDate = Epoch.plusMonths(m.toLong)

  // ------------------------------------------------------------ fixtures

  /** A uniform draw in [0, n) from (seed, row, salt). */
  private def draw(seed: Long, row: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), row, lit(salt)), lit(n))

  private def pick(seed: Long, row: Column, salt: Int, vals: String*): Column =
    element_at(array(vals.map(lit): _*), (draw(seed, row, salt, vals.size) + 1).cast("int"))

  private def cents(c: Column, precision: Int): Column =
    (c.cast(s"decimal($precision,0)") / lit(100)).cast(s"decimal($precision,2)")

  /** Order dates rise with the key (plus up to 30 days of jitter), as in an
    * ingest that appends orders over time: a key range is a time window.
    */
  val OrderDays = 2375L

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    val k = col("id")
    spark.range(1, Orders + 1, 1, 8).select(
      k.as("o_orderkey"),
      (draw(seed, k, 1, 15000) + 1).as("o_custkey"),
      pick(seed, k, 2, "F", "O", "P").as("o_orderstatus"),
      cents(draw(seed, k, 3, 50000000L) + 100000, 12).as("o_totalprice"),
      date_add(lit(Epoch), (k * OrderDays / Orders + draw(seed, k, 4, 30)).cast("int"))
        .as("o_orderdate"),
      pick(seed, k, 5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
  }

  /** 1 to 7 lines per order (about 4 per order), sorted by `l_orderkey`. */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val o = orders(spark, seed)
    val k = col("o_orderkey")
    val line = o.select(k, col("o_orderdate"),
      explode(sequence(lit(1), (draw(seed, k, 6, 7) + 1).cast("int"))).as("l_linenumber"))
    val r = xxhash64(k, col("l_linenumber"))
    val qty = draw(seed, r, 7, 50) + 1
    line.select(
      k.as("l_orderkey"),
      (draw(seed, r, 8, 20000) + 1).as("l_partkey"),
      (draw(seed, r, 9, 1000) + 1).as("l_suppkey"),
      col("l_linenumber"),
      qty.as("l_quantity"),
      cents(qty * (draw(seed, r, 10, 100000) + 90000), 12).as("l_extendedprice"),
      cents(draw(seed, r, 11, 11), 4).as("l_discount"),
      pick(seed, r, 12, "A", "N", "R").as("l_returnflag"),
      pick(seed, r, 13, "O", "F").as("l_linestatus"),
      date_add(col("o_orderdate"), (draw(seed, r, 14, 121) + 1).cast("int")).as("l_shipdate"))
  }

  private val Words = ("spark scan table query join hash sort group filter window row column " +
    "value key data batch stream merge order part line vector fast slow big small agg " +
    "index page file commit snapshot delete insert update cache shuffle task stage").split(" ")

  /** Text for row `k`: 12 to 80 words drawn from a 40-word vocabulary. */
  private def text(seed: Long, k: Column, salt: Int): Column = {
    val n = (draw(seed, k, salt, 69) + 12).cast("int")
    array_join(transform(sequence(lit(1), n), i =>
      element_at(array(Words.toSeq.map(lit): _*),
        (pmod(xxhash64(lit(seed), k, lit(salt), i), lit(Words.length.toLong)) + 1).cast("int"))),
      " ")
  }

  private def docColumns(seed: Long, k: Column, t: Column): Seq[Column] = Seq(
    k.as("doc_id"), t.as("text"),
    pick(seed, k, 21, "en", "en", "en", "de", "es", "fr", "zh").as("lang"),
    concat(lit("src"), draw(seed, k, 22, 20).cast("string")).as("source"),
    length(t).cast("long").as("n_chars"))

  /** `documents` rows [from, until) for the keyed cdc table. */
  def cdcDocuments(spark: SparkSession, seed: Long, from: Long, until: Long,
      salt: Long = 0L): DataFrame = {
    val k = col("id")
    spark.range(from, until, 1, 4).select(docColumns(seed + salt, k, text(seed + salt, k, 20)): _*)
  }

  def cdcDocuments(spark: SparkSession, seed: Long, keys: Seq[Long], salt: Long): DataFrame = {
    import spark.implicits._
    val k = col("value")
    keys.toDF().repartition(1).select(docColumns(seed + salt, k, text(seed + salt, k, 20)): _*)
  }

  /** Curation corpus: every 10th document copies an earlier one's text
    * exactly, every 10th (offset 5) copies one with one extra word (a near
    * duplicate); the rest are fresh.
    */
  def corpusDocuments(spark: SparkSession, seed: Long): DataFrame = {
    val k = col("id")
    val src = when(pmod(k, lit(10L)) === 0 && k > 0, draw(seed, k, 30, 1000))
      .when(pmod(k, lit(10L)) === 5, draw(seed, k, 31, 1000))
      .otherwise(k)
    val base = text(seed, src, 20)
    val t = when(pmod(k, lit(10L)) === 5, concat(base, lit(" extra"))).otherwise(base)
    spark.range(0, CorpusDocs, 1, 4).select(docColumns(seed, k, t): _*)
  }

  /** 10 Gaussian-ish clusters in [[Dim]] dimensions; label = cluster. */
  def corpusEmbeddings(spark: SparkSession, seed: Long): DataFrame = {
    val k = col("id")
    val label = draw(seed, k, 40, 10)
    def unit(salt: Column): Column =
      pmod(xxhash64(lit(seed), salt, lit(41)), lit(2000001L)).cast("float") / lit(1000000f) - lit(1f)
    val vec = transform(sequence(lit(0), lit(Dim - 1)), i =>
      unit(label * 1000 + i) + unit(k * 1000 + i + 500000000L) * lit(0.35f))
    spark.range(0, CorpusVecs, 1, 4).select(k.as("vec_id"), vec.cast("array<float>").as("embedding"),
      label.cast("int").as("label"))
  }
}
