package perfbench

import graft.core.BackpackFilter
import graft.functions.GraftFunctions.sgram_fingerprints
import graft.operators.{BqfParams, SketchAggregators}
import graft.plans.BqfPipeline
import graft.sources.TokensTable
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `build`: the bulk write path, no reads in the timed phase. Each
  * iteration runs `Cli build-index` (sorted shard build to a parquet store)
  * and then `Cli build` (buildSharded through the per-insert UDAF, one
  * sketch file) over the same uniform tokens table, where every s-gram is
  * distinct.
  */
final class BuildWorkload(c: Ctx) extends Workload(c) {
  private val params = BqfParams(qBits = 16, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)
  private val nDocs = if (c.toy) 2000 else 8000
  private val in = c.path("build/tokens.parquet")
  private val warmIn = c.path("build/warm-tokens.parquet")
  private val index = c.path("build/index")
  private val sketchFile = c.path("build/sketch.bqf")
  private val verbArgs = Seq("-q", "16", "-c", "8", "-h", "48", "-k", "8", "-z", "2")
  private var kgrams = 0L
  private val indexS = mutable.ArrayBuffer.empty[Double]
  private val buildS = mutable.ArrayBuffer.empty[Double]

  private def fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)

  private def cli(verb: String, args: String*): Unit = graft.Cli.main((verb +: args).toArray)

  def setup(): Unit = {
    new java.io.File(c.path("build")).mkdirs()
    c.span("sources", "tokens_table") {
      TokensTable.dataframe(spark, nDocs, c.seed, partitions = c.cores)
        .write.mode("overwrite").parquet(in)
    }
    kgrams = (0L until nDocs).map(i => Inputs.kgrams(TokensTable.rowOf(c.seed, i).n_tok, params.sTokens)).sum
  }

  /** A small table for the warm-up, so JIT and code generation warm up on
    * the same code paths without paying a full-size cold iteration.
    */
  override def prepareInputs(): Unit =
    TokensTable.dataframe(spark, nDocs / 8, c.seed + 1, partitions = c.cores).write.mode("overwrite").parquet(warmIn)

  override def warmUp(): Unit = {
    cli("build-index", Seq("-i", warmIn, "-o", c.path("build/warm-index")) ++ verbArgs: _*)
    cli("build", Seq("-i", warmIn, "-o", c.path("build/warm-sketch.bqf")) ++ verbArgs: _*)
  }

  def itemsPerIteration: Double = 2.0 * kgrams

  def resetSamples(): Unit = { indexS.clear(); buildS.clear(); steps.clear() }

  def iteration(): Unit = {
    val ti = Stats.seconds(c.span("cli", "build_index")(
      cli("build-index", Seq("-i", in, "-o", index) ++ verbArgs: _*)))
    val tb = Stats.seconds(c.span("cli", "build")(
      cli("build", Seq("-i", in, "-o", sketchFile) ++ verbArgs: _*)))
    indexS += ti
    buildS += tb
    steps += ti + tb
  }

  def endToEnd(): Unit = {
    c.endToEnd("throughput_per_s") = kgrams / Stats.median(indexS.toSeq)
    c.endToEnd("secondary_per_s") = kgrams / Stats.median(buildS.toSeq)
    putSteps()
    val sketch = BackpackFilter.loadFromFile(sketchFile)
    c.endToEnd("bits_per_element") = new java.io.File(sketchFile).length * 8.0 / sketch.distinctCount
  }

  def check(): Unit = {
    import spark.implicits._
    val sketch = BackpackFilter.loadFromFile(sketchFile)
    val store = spark.read.parquet(index).select("sketch").as[Array[Byte]].collect()
    val sd = Digest.of(sketch)
    c.expect("build: the build-index store and the build sketch enumerate to the same entries",
      Digest.ofBlobs(store) == sd)
    c.expect("build: every s-gram of the uniform table is distinct (all-ones keys-only path)",
      sd.entries == c.expected(sd.total))
    // seeded sample of the exact groupBy(fp).count, saturating at 2^c - 1
    val residue = Math.floorMod(c.seed, 211L)
    val exact = spark.read.parquet(in).select(explode(fps).as("fp"))
      .filter(pmod(col("fp"), lit(211L)) === residue)
      .groupBy("fp").count().as[(Long, Long)].collect()
    val sat = (1L << params.countBits) - 1
    val wrong = exact.count { case (fp, n) => sketch.abundance(fp) != c.expected(math.min(n, sat)) }
    c.expect(s"build: ${exact.length} sampled sketch counts equal exact groupBy counts (wrong: $wrong)",
      exact.nonEmpty && wrong == 0)
  }

  override def decompose(): Unit = {
    val df = spark.read.parquet(in)
    val tf = Stats.seconds(c.span("functions", "sgram_fingerprints") {
      df.select(fps).write.format("noop").mode("overwrite").save()
    })
    c.layer("functions.sgram_fps_per_s") = kgrams / tf
    c.layer("functions.build_share") = tf / Stats.median(indexS.toSeq)
    c.layer("plans.build_index_s") = Stats.seconds(c.span("plans", "build_index") {
      BqfPipeline.buildIndexSorted(df, fps, params, 64).write.mode("overwrite").parquet(c.path("build/decomposed"))
    })
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    var shards: org.apache.spark.sql.DataFrame = null
    c.layer("operators.udaf_build_s") = Stats.seconds(c.span("operators", "udaf_build") {
      shards = df.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(64)))
        .groupBy(col("bucket")).agg(bqf(fps).as("sketch")).localCheckpoint()
    })
    c.layer("plans.tree_merge_s") = Stats.seconds(c.span("plans", "tree_merge") {
      BqfPipeline.treeMerge(shards, 64, 16)
    })
    c.layer("plans.build_sharded_s") = Stats.seconds(c.span("plans", "build_sharded") {
      BqfPipeline.buildSharded(df, fps, col("doc_id"), params, nBuckets = 64)
    })
    c.layer("cli.build_index_s") = Layers.median(c, "cli", "build_index")
    c.layer("cli.build_s") = Layers.median(c, "cli", "build")
    new IngestSlice(c).run()
  }

  def coreInputs(): (BqfParams, Array[Long], Array[Array[Int]], BackpackFilter) = {
    val rows = (0L until math.min(nDocs, if (c.toy) 400L else 2000L)).map(i => TokensTable.rowOf(c.seed, i).tokens)
    val sample = rows.flatMap(t => graft.core.Fingerprint.windowFingerprints(t, params.sTokens, params.hashBits, params.seed)).toArray
    (params, sample, rows.take(1000).toArray, BackpackFilter.loadFromFile(sketchFile))
  }
}
