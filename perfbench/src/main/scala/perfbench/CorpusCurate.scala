package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.HadoopCatalog
import graft.core.SchemaBridge
import graft.format.PartitionSpec
import graft.llm.{Clustering, Dedup, Similarity}
import graft.table.{SparkRead, Writer}

/** The batch curation pipeline over Iceberg tables: each pass reads
  * `documents` and `embeddings`, runs dedup, clustering and retrieval, and
  * overwrites the `curated` table in one commit.
  */
final class CorpusCurate(spark: SparkSession, seed: Long, val ops: Vector[Op]) extends Workload {
  private var cat: HadoopCatalog = _
  private var distinctTexts = 0L
  /** Per-pass stage seconds, in pass order, warm-up passes first. */
  private val stages = mutable.ArrayBuffer.empty[Map[String, Double]]

  private var raw: String = _

  def generate(dir: String): Unit = {
    raw = dir
    Gen.corpusDocuments(spark, seed).write.parquet(s"$raw/documents")
    Gen.corpusEmbeddings(spark, seed).write.parquet(s"$raw/embeddings")
    distinctTexts = spark.read.parquet(s"$raw/documents").select("text").distinct().count()
  }

  def load(dir: String, catalog: String): Unit = {
    val docs = spark.read.parquet(s"$raw/documents")
    val embs = spark.read.parquet(s"$raw/embeddings")
    cat = new HadoopCatalog(s"$dir/wh")
    val docSchema = SchemaBridge.fromSpark(docs.schema)
    Writer.append(spark, cat.createTable("documents", docSchema, PartitionSpec.Unpartitioned,
      properties = Calls.reportProps), docs)
    Writer.append(spark, cat.createTable("embeddings", SchemaBridge.fromSpark(embs.schema),
      PartitionSpec.Unpartitioned, properties = Calls.reportProps), embs)
    cat.createTable("curated", docSchema, PartitionSpec.Unpartitioned,
      properties = Calls.reportProps)
  }

  def warmupOps: Seq[Op] = Gen.corpusOps(seed + 7919, 1)

  private def llm[T](name: String)(body: => T): T = Trace.span(s"llm.$name") {
    val r = body
    if (Trace.on) graft.metrics.ScaleTelemetry.drain().get("cc_rounds")
      .foreach(v => Trace.count("llm.cc_rounds", v.toDouble))
    r
  }

  private def stage[T](name: String, times: mutable.Map[String, Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(s"stage.$name")(body)
    finally times(name) = (System.nanoTime() - t0) / 1e9
  }

  private def read(name: String): DataFrame = {
    val t = Calls.load(cat, name)
    Trace.span("table.read")(SparkRead.read(spark, t.newScan))
  }

  def run(op: Op): () => Boolean = op match {
    case PassOp(queryIds) =>
      val t0 = System.nanoTime()
      val times = mutable.Map.empty[String, Double]
      val cached = mutable.ArrayBuffer.empty[DataFrame]
      // materialize each step in memory for the next one; returns rows
      def keep(df: DataFrame): (DataFrame, Long) = {
        val p = df.persist(); cached += p; (p, p.count())
      }
      val (curated, nCurated, dedupOk) = stage("dedup", times) {
        val docs = read("documents")
        val (exact, nExact) = llm("exact_dedup")(keep(Dedup.exact(docs, Seq("text"), "doc_id")))
        val (best, _) = llm("minhash_lsh") {
          val clusters = Dedup.minHashLsh(exact, "doc_id", "text")
          keep(Dedup.keepBestPerCluster(exact.join(clusters, "doc_id"), "doc_id",
            "cluster_id", col("n_chars")))
        }
        val (_, nPairs) = llm("neardup_pairs")(
          keep(Dedup.nearDupPairsMinHash(exact, "doc_id", "text", threshold = 0.7)))
        val (good, nGood) = llm("quality")(keep(best.filter(
          col("n_chars").between(60, 5000) && col("lang").isin("en", "de", "es", "fr"))
          .drop("cluster_id")))
        (good, nGood, nExact == distinctTexts && nPairs > 0 && nGood > 0)
      }
      val (assigned, nAssigned, nKept) = stage("cluster", times) {
        val embs = read("embeddings").select("vec_id", "embedding")
        val (assigned, n) = llm("kmeans_twolevel")(
          keep(Clustering.kMeansTwoLevel(embs, kCoarse = 4, kFine = 4, iters = 2)))
        val (_, kept) = llm("semantic_dedup")(keep(Clustering.semanticDedup(assigned, tau = 0.98)))
        (assigned, n, kept)
      }
      val (exact, lsh, ivf, fused) = stage("retrieve", times) {
        val embs = read("embeddings")
        val queries = embs.filter(col("vec_id").isin(queryIds: _*))
        val (ivf, _) = llm("ivf_topk")(keep(Similarity.ivfTopK(queries, embs, k = 10,
          nlist = 8, nprobe = 4)))
        val (lsh, _) = llm("lsh_topk")(keep(Similarity.lshTopK(queries, embs, k = 10,
          nbits = 4, probes = 5)))
        val (fused, _) = llm("rrf_fuse")(keep(Similarity.rrfFuse(Seq("lsh" -> lsh, "ivf" -> ivf),
          k = 5)))
        val (exact, _) = llm("brute_force_topk")(keep(Similarity.bruteForceTopK(queries, embs,
          k = 5)))
        (exact, lsh, ivf, fused)
      }
      val curatedTable = stage("commit", times) {
        Calls.write(Writer.overwriteAll(spark, Calls.load(cat, "curated"), curated))
      }
      times("pipeline") = (System.nanoTime() - t0) / 1e9
      stages += times.toMap
      () => try {
        val perVec = assigned.groupBy("vec_id").count()
        val oneClusterEach = nAssigned == Gen.CorpusVecs && perVec.count() == Gen.CorpusVecs &&
          perVec.filter(col("count") =!= 1).isEmpty && assigned.filter(col("cluster").isNull).isEmpty
        // the recall floors the ANN gates pin (s3 LSH, s5 IVF, s11 RRF)
        val recallOk = recall(exact, lsh) >= 0.35 && recall(exact, ivf) >= 0.3 &&
          recall(exact, fused) >= 0.3
        val committed = curatedTable.newScan.planFiles().map(_.file.recordCount).sum == nCurated
        dedupOk && oneClusterEach && nKept > 0 && nKept <= nAssigned && recallOk && committed
      } finally cached.foreach(_.unpersist())
    case other => throw new IllegalArgumentException(s"corpus_curate cannot run $other")
  }

  /** recall@5 of `ann`'s top 5 against the exact top 5. */
  private def recall(exact: DataFrame, ann: DataFrame): Double = {
    val r = exact.select("qid", "cid")
      .join(ann.filter(col("rank") <= 5).select(col("qid"), col("cid"), lit(1).as("hit")),
        Seq("qid", "cid"), "left")
      .agg(count(lit(1)), count(col("hit"))).head()
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** Medians over the timed passes. */
  def finish(): Seq[(String, Double, String)] = {
    val timed = stages.drop(warmupOps.size).toSeq
    Seq("pipeline", "dedup", "cluster", "retrieve", "commit")
      .map(st => (s"${st}_s", Stats.median(timed.map(_(st))), "s"))
  }
}
