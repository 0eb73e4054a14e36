package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.bench.{GenSortParity, TeraBench}
import graft.functions.TextFunctions
import graft.jobs.{ClusterMaintenance, SpanDedupMaintenance}
import graft.operators.Dedup

import Main.{Ctx, Workload}

/** Declared queries, each run by its `SparkEntry.queries` function and
  * written as parquet under the pass's output directory. */
private object QueryJobs {
  def run(ctx: Ctx, names: Seq[String], data: String, out: String): Unit =
    names.foreach { q =>
      ctx.job(s"Queries.$q") {
        SparkEntry.queries(q)(ctx.spark, data).write.mode("overwrite").parquet(s"$out/$q")
      }
    }
}

/** TeraGen → TeraSort → TeraValidate over the program's own TeraGen
  * (rows 0 until `--tera-rows`), then the reference's example jobs over the
  * seeded tables. */
final class MrBatch(ctx: Ctx) extends Workload {
  private val queries = Seq("q01_wordcount", "q06_sort_lineitem", "q07_secondary_sort",
    "q08_join_inner", "q09_join_outer", "q11_datajoin", "q12_agg_dsl", "q21_rollup",
    "q41_salted_join", "q56_range_join")

  def pass(data: String, out: String): Unit = {
    val rows = ctx.opt("tera-rows").toLong
    val gen = GenSortParity.teraGen(ctx.spark, rows)
    var genSum = 0L
    val generated = ctx.job("bench.teragen") { genSum = TeraBench.checksum(gen) }
    val sorted = TeraBench.teraSort(gen).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sortedOk = generated &&
        ctx.job("bench.terasort")(sorted.write.mode("overwrite").format("noop").save())
      if (sortedOk) ctx.job("bench.teravalidate") {
        val (n, sum, ordered) = TeraBench.validate(sorted)
        ctx.fact("check" -> "tera", "rows" -> rows, "validated_rows" -> n,
          "gen_sum" -> genSum, "sort_sum" -> sum, "ordered" -> ordered)
      }
    } finally sorted.unpersist(true)
    QueryJobs.run(ctx, queries, data, out)
  }
}

/** LLM curation: minhash pairs, a direct connected-components build on
  * that pair table, ANN search, text quality and span dedup over the
  * near-duplicate-expanded corpus; then the
  * same corpus arrives again as seeded waves through a file-source stream,
  * each micro-batch folded through the cluster and span dedup services, and
  * the pass ends with one tombstone rebuild. */
final class LlmCuration(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val waveSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "kind string, id long, text string, embedding array<float>")
  // corpus / gram compaction on every fold after the first, a cluster
  // snapshot on every second fold: in a stream of three waves each fires
  // twice
  private val ccfg = ClusterMaintenance.Config(threshold = 0.35, numPlanes = 4, dim = 64,
    probeRadius = 1, numTables = 16, compactEvery = 1, snapshotEvery = 2)
  private val scfg = SpanDedupMaintenance.Config(n = 8, compactEvery = 1)

  private def dirs(out: String) = Map("state" -> s"$out/state", "corpus" -> s"$out/corpus",
    "grams" -> s"$out/grams", "clean" -> s"$out/clean")

  def pass(data: String, out: String): Unit = {
    QueryJobs.run(ctx, Seq("q25_minhash_pairs"), data, out)
    ctx.job("operators.cc") {
      val pairs = spark.read.parquet(s"$out/q25_minhash_pairs")
      val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b")
      cc.write.mode("overwrite").parquet(s"$out/cc_direct")
      ctx.fact("check" -> "cc", "rounds" -> rounds)
      ctx.count("operators.cc_rounds", rounds)
    }
    QueryJobs.run(ctx, Seq("q42_sim_ivf_topk", "q29_text_quality", "q109_span_dedup"), data, out)
    stream(data, out)
  }

  private def stream(data: String, out: String): Unit = {
    val waves = new File(s"$data/waves").listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val d = dirs(out)
    val src = new File(s"$out/src")
    src.mkdirs()
    val committed = new LinkedBlockingQueue[Either[Throwable, Long]]()
    @volatile var waveSpan = 0L
    def fold(batch: Dataset[Row], batchId: Long): Unit = {
      val before = if (ctx.spans.enabled) Main.listing(d.values.toSeq) else Map.empty[String, Long]
      val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        ctx.spans("jobs.cluster_fold", waveSpan) {
          ClusterMaintenance.foldBatch(
            b.filter(col("kind") === "emb").select(col("id").as("vec_id"), col("embedding")),
            batchId, d("state"), d("corpus"), "vec_id", "embedding", ccfg)
        }
        ctx.spans("jobs.span_fold", waveSpan) {
          SpanDedupMaintenance.foldBatch(
            b.filter(col("kind") === "doc").select(col("id").as("doc_id"),
              TextFunctions.tokens(col("text")).as("toks")),
            batchId, d("grams"), d("clean"), "doc_id", "toks", scfg)
        }
      } finally b.unpersist(false)
      if (ctx.spans.enabled) {
        val after = Main.listing(d.values.toSeq)
        val written = after.filter { case (f, n) => !before.get(f).contains(n) }
        ctx.count("jobs.files_written", written.size)
        ctx.count("jobs.bytes_written", written.values.sum.toDouble)
      }
    }
    val query = spark.readStream.schema(waveSchema).option("maxFilesPerTrigger", 1)
      .parquet(src.getPath)
      .writeStream.option("checkpointLocation", s"$out/chk")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        try { fold(batch, batchId); committed.put(Right(batchId)) }
        catch { case e: Throwable => committed.put(Left(e)); throw e }
        ()
      }
      .start()
    try {
      waves.zipWithIndex.foreach { case (w, i) =>
        ctx.job("stream.wave") {
          waveSpan = ctx.spans.current
          val tmp = new File(src, s".${w.getName}")
          Files.copy(w.toPath, tmp.toPath)
          Main.move(tmp, new File(src, w.getName))
          val visibleMs = System.currentTimeMillis()
          committed.poll(120, TimeUnit.SECONDS) match {
            case Right(id) =>
              require(id == i, s"wave $i committed as batch $id")
              ctx.fact("check" -> "wave", "wave" -> i, "visible_ms" -> visibleMs,
                "committed_ms" -> System.currentTimeMillis())
            case Left(e) => throw e
            case null => sys.error(s"wave $i not committed within 120 s")
          }
        }
      }
    } finally query.stop()
    ctx.job("jobs.cluster_rebuild") {
      val tomb = graft.Engine.tables(spark, data).embeddings
        .select(col("vec_id")).filter(col("vec_id") % 7 === 0)
      ClusterMaintenance.rebuildWithoutTombstones(spark, d("state"), d("corpus"), tomb,
        "vec_id", ccfg)
    }
  }

  /** The final service states in the q119 and q115 result forms, for the
    * checks; traced runs also count the minhash LSH candidate pairs (every
    * pair sharing a band bucket) against those passing the 0.5 gate. */
  override def finish(data: String, out: String): Unit = {
    val d = dirs(out)
    ClusterMaintenance.latestAssignment(spark, d("state"))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .write.mode("overwrite").parquet(s"$out/final_clusters")
    spark.read.parquet(s"${d("clean")}/b=*")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_dup_starts"),
        col("n_spans"), col("n_covered"),
        md5(to_binary(concat_ws(" ", col("clean_toks")), lit("utf-8"))).as("clean_md5"))
      .write.mode("overwrite").parquet(s"$out/final_spans")
    if (ctx.spans.enabled) {
      val docs = graft.Engine.tables(spark, data).documents
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64,
        tokenHash = TextFunctions.md5Hash32)
      val (cand, release) = Dedup.candidatePairsOfSignatures(sigs, 64, 16, threshold = 0.0)
      ctx.count("operators.candidate_pairs", cand.count().toDouble)
      release()
      ctx.count("operators.verified_pairs",
        spark.read.parquet(s"$out/q25_minhash_pairs").count().toDouble)
    }
  }
}
