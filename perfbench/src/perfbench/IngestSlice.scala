package perfbench

import graft.functions.GraftFunctions.sgram_fingerprints
import graft.operators.BqfParams
import graft.plans.BqfPipeline
import graft.streaming.IndexIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Writes beside reads on one persisted store, run by the build workload's
  * traced run. A duplicate-bearing stream is cut into doc-sliced
  * micro-batches. One fixed cycle over a fresh store sends every batch
  * through `IndexIngest.ingestBatch`, follows it with a read-after-write
  * lookup of a fixed probe set through `currentShards` and `queryIndex`,
  * and runs `IndexIngest.compact` after every [[compactEvery]] batches.
  * The cycle length is fixed because batch time grows as the store ages.
  */
final class IngestSlice(c: Ctx) {
  private val spark = c.spark
  import spark.implicits._

  private val params = BqfParams(qBits = 16, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)
  private val nDocs = if (c.toy) 2000L else 6000L
  private val dupPct = 30
  private val nBuckets = 32
  private val nBatches = 4
  private val compactEvery = 2
  private val nProbes = if (c.toy) 300 else 1000
  private val corpus = c.path("ingest/corpus.parquet")

  private var batches: Array[DataFrame] = Array.empty
  private var batchFps: Array[Long] = Array.empty
  private var probes: DataFrame = _
  private var nProbesDistinct = 0
  private var running: Array[Map[Long, Long]] = Array.empty
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val readS = mutable.ArrayBuffer.empty[Double]
  private val compactS = mutable.ArrayBuffer.empty[Double]
  private var storeFiles = 0
  private var readsWrong = 0
  private var reads = 0

  private def fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)

  private def generate(): Unit = c.span("sources", "dup_stream") {
    val (seed, d) = (c.seed, dupPct)
    spark.range(0, nDocs, 1, c.cores).map(i => Inputs.dupRow(seed, i, d))
      .write.mode("overwrite").parquet(corpus)
    // doc-sliced batches: batch b holds docs [b * nDocs / nBatches, (b + 1) * nDocs / nBatches)
    val stream = spark.read.parquet(corpus)
      .select((substring(col("doc_id"), 4, 8).cast("long") * nBatches / nDocs).cast("int").as("batch"),
        explode(fps).as("fp"))
      .cache()
    val sizes = stream.groupBy("batch").count().as[(Int, Long)].collect().toMap
    batchFps = Array.tabulate(nBatches)(b => sizes.getOrElse(b, 0L))
    batches = Array.tabulate(nBatches)(b => stream.filter(col("batch") === b).select("fp"))
    probes = Inputs.presentProbes(seed, nDocs, dupPct, nProbes, params.sTokens, params.hashBits, params.seed)
      .distinct.toSeq.toDF("fp").cache()
    nProbesDistinct = probes.count().toInt
  }

  /** Exact running count of every probe after each batch, saturating. */
  private def runningCounts(): Array[Map[Long, Long]] = {
    val sat = (1L << params.countBits) - 1
    val acc = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    batches.map { b =>
      b.join(broadcast(probes), "fp").groupBy("fp").count().as[(Long, Long)].collect()
        .foreach { case (fp, n) => acc(fp) = math.min(acc(fp) + n, sat) }
      acc.toMap
    }
  }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
  }

  private def dataFiles(store: String): Int =
    java.nio.file.Files.walk(java.nio.file.Paths.get(store)).filter(_.toString.endsWith(".parquet")).count().toInt

  private def liveBlobs(store: String): Array[Array[Byte]] =
    IndexIngest.currentShards(spark, store).select("sketch").as[Array[Byte]].collect()

  private def cycle(store: String, input: Array[DataFrame]): Unit = {
    deleteTree(store)
    for (b <- input.indices) {
      batchS += Stats.seconds(c.span("streaming", "ingest_batch") {
        IndexIngest.ingestBatch(input(b), b, params, nBuckets, store)
      })
      var answers: Array[(Long, Long)] = null
      readS += Stats.seconds(c.span("streaming", "read") {
        val shards = IndexIngest.currentShards(spark, store)
        answers = c.span("plans", "query_index") {
          BqfPipeline.queryIndex(shards, probes, params, nBuckets).as[(Long, Long)].collect()
        }
      })
      reads += 1
      val want = running(b)
      if (answers.length != nProbesDistinct ||
          answers.exists { case (fp, a) => a != c.expected(want.getOrElse(fp, 0L)) })
        readsWrong += 1
      if ((b + 1) % compactEvery == 0) {
        storeFiles = math.max(storeFiles, dataFiles(store))
        compactS += Stats.seconds(c.span("streaming", "compact")(IndexIngest.compact(spark, store)))
      }
    }
  }

  def run(): Unit = {
    generate()
    running = runningCounts()
    // warm-up: half a cycle over 1/16 of each batch's fingerprints, untraced
    // and unchecked, runs every code path of the measured cycle
    val tracing = c.tracer.enabled
    c.tracer.disable()
    cycle(c.path("ingest/warm-store"), batches.take(compactEvery).map(_.filter(pmod(xxhash64(col("fp")), lit(16L)) === 0)))
    Seq(batchS, readS, compactS).foreach(_.clear())
    readsWrong = 0
    reads = 0
    if (tracing) c.tracer.enable()
    val store = c.path("ingest/store")
    cycle(store, batches)

    c.expect(s"ingest: every read-after-write answer equals the exact running count ($readsWrong of $reads reads wrong)",
      reads > 0 && readsWrong == 0)
    val bulk = BqfPipeline.buildIndexSortedFromFps(batches.reduce(_ union _), params, nBuckets)
      .select("sketch").as[Array[Byte]].collect()
    val live = Digest.ofBlobs(liveBlobs(store))
    c.expect("ingest: the compacted store enumerates equal to buildIndexSortedFromFps over all fps",
      live == Digest.ofBlobs(bulk))
    // replaying the last committed batch id must leave the store unchanged
    c.span("streaming", "replay")(IndexIngest.ingestBatch(batches.last, nBatches - 1, params, nBuckets, store))
    c.layer("streaming.replay_hits") = if (Digest.ofBlobs(liveBlobs(store)) == live) 1 else 0

    val ingests = c.tracer.named("streaming", "ingest_batch")
    val w = c.tracer.subtreeWork(ingests)
    val n = math.max(1, ingests.size).toDouble
    c.layer("streaming.ingest_batch_s") = Stats.median(batchS.toSeq)
    c.layer("streaming.read_s") = Stats.median(readS.toSeq)
    c.layer("streaming.compact_s") = Stats.median(compactS.toSeq)
    c.layer("streaming.store_files") = storeFiles
    c.layer("streaming.store_bytes_read") = w.inputBytes / n
    c.layer("streaming.store_bytes_written") = w.outputBytes / n
    c.layer("streaming.write_amp") = w.outputBytes / n / (batchFps.sum.toDouble / nBatches * 8)
    c.layer("streaming.jobs_per_batch") = w.jobs / n
    val shift = params.hashBits - Integer.numberOfTrailingZeros(nBuckets)
    c.layer("streaming.touched_frac") = batches.map(b =>
      b.select(shiftrightunsigned(col("fp"), shift)).distinct().count().toDouble / nBuckets).sum / nBatches
    c.layer("plans.query_index_s") = Layers.median(c, "plans", "query_index")
  }
}
