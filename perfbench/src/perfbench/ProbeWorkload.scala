package perfbench

import graft.core.{BackpackFilter, Fingerprint}
import graft.functions.GraftFunctions.sgram_fingerprints
import graft.operators.{BqfParams, BqfQuery}
import graft.plans.BqfPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `probe`: the read-only path. Set-up builds a 32-shard routed index from
  * a duplicate-bearing corpus and merges it into one sketch on the counted
  * path, then broadcasts it. Each iteration runs point probes (half
  * present, half from a disjoint stream) through `BqfQuery.abundanceOf`,
  * FIXTURES §3 sequences through `sequenceStatsOf`, routed probes through
  * `BqfPipeline.queryIndex`, and a series of small lookups through the same
  * broadcast.
  */
final class ProbeWorkload(c: Ctx) extends Workload(c) {
  import spark.implicits._

  private val params = BqfParams(qBits = 16, countBits = 5, hashBits = 48, kTokens = 8, zTokens = 2)
  private val nDocs = if (c.toy) 2000L else 10000L
  private val dupPct = 30
  private val nBuckets = 32
  private val nAbsent = if (c.toy) 50000L else 500000L
  private val nSeqs = if (c.toy) 200 else 500
  private val nOracleSeqs = 100
  private val lookupSize = 256
  private val lookupsPerIteration = 20
  private val corpus = c.path("probe/corpus.parquet")
  private val index = c.path("probe/index")

  private var sketchBytes: Array[Byte] = _
  private var q: BqfQuery = _
  private var points: DataFrame = _
  /** The cached probe set four times over in one job, so the per-job
    * scheduling cost stays a small part of the job's time.
    */
  private var pointsX4: DataFrame = _
  private var nPoints = 0L
  private var routed: DataFrame = _
  private var nRouted = 0L
  private var seqs: DataFrame = _
  private var lookups: Array[Array[Long]] = _
  private val pointS = mutable.ArrayBuffer.empty[Double]
  private val seqS = mutable.ArrayBuffer.empty[Double]
  private val routedS = mutable.ArrayBuffer.empty[Double]
  private val routedSums = mutable.ArrayBuffer.empty[Long]

  private def fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
  private val mask = (1L << params.hashBits) - 1

  def setup(): Unit = {
    if (q != null) q.unpersist()
    c.span("sources", "dup_corpus") {
      val (seed, n, d) = (c.seed, nDocs, dupPct)
      spark.range(0, n, 1, c.cores).map(i => Inputs.dupRow(seed, i, d))
        .write.mode("overwrite").parquet(corpus)
    }
    c.span("plans", "build_index") {
      BqfPipeline.buildIndexSorted(spark.read.parquet(corpus), fps, params, nBuckets)
        .write.mode("overwrite").parquet(index)
    }
    sketchBytes = c.span("plans", "reshard_merge") {
      BqfPipeline.reshardMerge(spark.read.parquet(index), params, 1).head().getAs[Array[Byte]]("sketch")
    }
    val t = Stats.seconds { q = c.span("operators", "broadcast") {
      val bq = new BqfQuery(spark, sketchBytes)
      spark.range(0, c.cores, 1, c.cores).select(sum(bq.abundanceOf(col("id")))).collect()
      bq
    } }
    c.layer("operators.broadcast_s") = t
  }

  override def prepareInputs(): Unit =
    c.span("sources", "probes") {
      val seed = c.seed
      val present = spark.read.parquet(corpus).select(explode(fps).as("fp"))
        .filter(pmod(xxhash64(col("fp"), lit(seed)), lit(4L)) === 0)
      val absent = spark.range(0, nAbsent, 1, c.cores)
        .select(xxhash64(col("id"), lit(seed)).bitwiseAND(lit(mask)).as("fp"))
      points = present.withColumn("present", lit(true))
        .unionByName(absent.withColumn("present", lit(false)))
        .repartition(c.cores).cache()
      nPoints = points.count()
      pointsX4 = points.union(points).union(points).union(points)
      routed = points.filter(pmod(xxhash64(col("fp"), lit(seed + 1)), lit(10L)) === 0).cache()
      nRouted = routed.count()
      val (n, d) = (nDocs, dupPct)
      seqs = spark.range(0, nSeqs, 1, c.cores)
        .map(i => (i, Inputs.sequence(seed, i.toInt, n, d))).toDF("query_id", "tokens").cache()
      seqs.count()
      val pl = Inputs.presentProbes(seed, nDocs, dupPct, lookupSize * lookupsPerIteration / 2,
        params.sTokens, params.hashBits, params.seed)
      val ab = Inputs.absentProbes(seed, lookupSize * lookupsPerIteration / 2, params.hashBits)
      lookups = pl.zip(ab).flatMap { case (a, b) => Array(a, b) }.grouped(lookupSize).toArray
    }

  def itemsPerIteration: Double = (4 * nPoints + nRouted + lookupSize * lookupsPerIteration).toDouble

  def resetSamples(): Unit = { pointS.clear(); seqS.clear(); routedS.clear(); steps.clear() }

  def iteration(): Unit = {
    pointS += Stats.seconds(c.span("operators", "point_probes") {
      pointsX4.agg(sum(q.abundanceOf(col("fp")))).collect()
    })
    seqS += Stats.seconds(c.span("operators", "sequence_stats") {
      seqs.select(q.sequenceStatsOf(col("tokens")).as("st"))
        .agg(sum("st.minimum"), sum("st.maximum"), sum("st.average"), sum("st.presenceRatio")).collect()
    })
    routedS += Stats.seconds(c.span("plans", "query_index") {
      routedSums += BqfPipeline.queryIndex(spark.read.parquet(index), routed, params, nBuckets)
        .agg(sum("abundance")).head().getLong(0)
    })
    lookups.foreach { set =>
      steps += Stats.seconds(c.span("operators", "lookup") {
        set.toSeq.toDF("fp").select(q.abundanceOf(col("fp"))).collect()
      })
    }
  }

  private def sketch = BackpackFilter.deserialize(sketchBytes)

  def endToEnd(): Unit = {
    c.endToEnd("throughput_per_s") = 4 * nPoints / Stats.median(pointS.toSeq)
    c.endToEnd("secondary_per_s") = nSeqs / Stats.median(seqS.toSeq)
    putSteps()
    c.endToEnd("bits_per_element") = sketchBytes.length * 8.0 / sketch.distinctCount
    c.layer("plans.query_index_s") = Stats.median(routedS.toSeq)
    c.layer("plans.routed_probes_per_s") = nRouted / Stats.median(routedS.toSeq)
  }

  def check(): Unit = {
    val sat = (1L << params.countBits) - 1
    // answers of a seeded sample of present probes, and the exact counts of
    // every fingerprint the checks need (that sample and the oracle
    // sequences' s-grams), counted over the corpus
    val present = points.filter(col("present") && pmod(xxhash64(col("fp"), lit(c.seed + 2)), lit(97L)) === 0)
      .select(col("fp"), q.abundanceOf(col("fp"))).as[(Long, Long)].collect()
    val oracleSeqs = (0 until nOracleSeqs).map(i => Inputs.sequence(c.seed, i, nDocs, dupPct))
    val needed = (present.map(_._1) ++ oracleSeqs.flatMap(t =>
      Fingerprint.windowFingerprints(t, params.sTokens, params.hashBits, params.seed))).distinct
    val counts = spark.read.parquet(corpus).select(explode(fps).as("fp"))
      .join(broadcast(needed.toSeq.toDF("fp")), "fp").groupBy("fp").count()
      .as[(Long, Long)].collect().map { case (fp, n) => fp -> math.min(n, sat) }.toMap
    val wrong = present.count { case (fp, got) => got != c.expected(counts.getOrElse(fp, 0L)) }
    c.expect(s"probe: ${present.length} sampled present probes return exact counts (wrong: $wrong)",
      present.nonEmpty && wrong == 0)
    // absent probes: hits within the legacy fp-audit bound
    val hits = points.filter(!col("present") && q.abundanceOf(col("fp")) > 0).count()
    val exp = nAbsent.toDouble * sketch.distinctCount / math.pow(2, params.hashBits)
    val bound = exp + 6 * math.sqrt(exp) + 10
    c.expect(f"probe: absent-probe hits $hits <= $bound%.1f", c.expected(hits) <= bound)
    // sampled sequence stats equal the FIXTURES §3 oracle over exact counts
    val got = seqs.filter(col("query_id") < nOracleSeqs)
      .select(col("query_id"), q.sequenceStatsOf(col("tokens")).as("st"))
      .select("query_id", "st.minimum", "st.maximum", "st.average", "st.presenceRatio")
      .as[(Long, Long, Long, Double, Double)].collect()
    val seqWrong = got.count { case (i, mn, mx, avg, pr) =>
      (c.expected(mn), mx, avg, pr) != oracleStats(oracleSeqs(i.toInt), counts)
    }
    c.expect(s"probe: ${got.length} FIXTURES §3 sequence stats equal the exact oracle (wrong: $seqWrong)",
      got.length == nOracleSeqs && seqWrong == 0)
    // routed answers equal the broadcast answers over the same probes
    val viaBroadcast = routed.agg(sum(q.abundanceOf(col("fp")))).head().getLong(0)
    c.expect("probe: routed queryIndex answers equal broadcast answers",
      routedSums.nonEmpty && routedSums.forall(_ == c.expected(viaBroadcast)))
  }

  /** k-gram abundance = min over its z+1 s-gram exact counts; min / max /
    * average / presence ratio over the sequence's k-grams.
    */
  private def oracleStats(t: Array[Int], counts: Map[Long, Long]): (Long, Long, Double, Double) = {
    val a = Fingerprint.windowFingerprints(t, params.sTokens, params.hashBits, params.seed)
      .map(fp => counts.getOrElse(fp, 0L))
    val z = params.zTokens
    val k = (0 to a.length - 1 - z).map(i => a.slice(i, i + z + 1).min)
    val present = k.filter(_ > 0)
    val mn = if (present.length < k.length || present.isEmpty) 0L else present.min
    val mx = if (present.isEmpty) 0L else present.max
    (mn, mx, present.sum / k.length.toDouble, present.length / k.length.toDouble)
  }

  override def decompose(): Unit = {
    val withExpr = Stats.median((0 until 3).map(_ => Stats.seconds(c.span("operators", "probe_plan") {
      pointsX4.agg(sum(q.abundanceOf(col("fp")))).collect()
    })))
    val without = Stats.median((0 until 3).map(_ => Stats.seconds(c.span("operators", "probe_plan_bare") {
      pointsX4.agg(sum(col("fp").bitwiseAND(lit(1L)))).collect()
    })))
    c.layer("operators.probe_expr_self_s") = withExpr - without
    val tf = Stats.seconds(c.span("functions", "sgram_fingerprints") {
      spark.read.parquet(corpus).select(fps).write.format("noop").mode("overwrite").save()
    })
    val kgrams = spark.read.parquet(corpus).agg(sum(greatest(size(col("tokens")) - (params.sTokens - 1), lit(0))))
      .head().getLong(0)
    c.layer("functions.sgram_fps_per_s") = kgrams / tf
    c.layer("plans.build_index_s") = Layers.median(c, "plans", "build_index")
    manifest = Some(CatalogSlice.run(c))
  }

  private var manifest: Option[String] = None
  override def catalogCheck: Option[String] = manifest

  def coreInputs(): (BqfParams, Array[Long], Array[Array[Int]], BackpackFilter) = {
    val docs = (0L until math.min(nDocs, if (c.toy) 400L else 2000L)).map(i => Inputs.dupRow(c.seed, i, dupPct).tokens)
    val sample = docs.flatMap(t => Fingerprint.windowFingerprints(t, params.sTokens, params.hashBits, params.seed)).toArray
    val oracle = (0 until nOracleSeqs).map(i => Inputs.sequence(c.seed, i, nDocs, dupPct)).toArray
    (params, sample, oracle, sketch)
  }
}
