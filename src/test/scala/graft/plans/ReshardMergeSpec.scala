package graft.plans

import graft.SparkTestSession
import graft.core.BackpackFilter
import graft.functions.GraftFunctions._
import graft.operators.BqfParams
import graft.sources.TokensTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed re-shard merge must be a pure repartitioning of sketch
  * contents: every (fingerprint, abundance) entry survives verbatim, output
  * shards nest by fingerprint-range prefix, and collapsing disjoint shards
  * to one shard writes the same bytes as a mergeAll of the collected shards.
  */
class ReshardMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val params = BqfParams(qBits = 8, countBits = 8, hashBits = 48, kTokens = 8, zTokens = 2)

  private def collectedMerge(shards: org.apache.spark.sql.DataFrame): BackpackFilter =
    BackpackFilter.mergeAll(shards.select("sketch").collect()
      .map(r => BackpackFilter.deserialize(r.getAs[Array[Byte]](0))).toSeq)

  private def enumMap(shards: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    BqfPipeline.enumerateIndex(shards).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("reshardMerge preserves every entry and matches the exact multiset") {
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val i32 = BqfPipeline.buildIndexSorted(df, fps, params, 32).cache()
    val exact = enumMap(i32)
    val oracle = df.select(explode(fps).as("fp")).groupBy("fp").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == oracle, "sorted index build disagrees with exact counts")
    for (nOut <- Seq(8, 1)) {
      val merged = BqfPipeline.reshardMerge(i32, params, nOut)
      assert(enumMap(merged) == exact, s"nOut=$nOut")
      assert(merged.select(countDistinct(col("bucket"))).head().getLong(0) <= nOut)
    }
    i32.unpersist()
  }

  test("queryIndex == broadcast sketch on random probes (present, absent, resharded)") {
    import spark.implicits._
    val df = TokensTable.dataframe(spark, 300, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val nBuckets = 16
    val shards = BqfPipeline.buildIndexSorted(df, fps, params, nBuckets).cache()
    // probe set: every inserted fp plus never-inserted randoms (expect 0)
    val rnd = new scala.util.Random(7)
    val absent = Seq.fill(2000)(rnd.nextLong() & ((1L << params.hashBits) - 1))
    val probes = df.select(explode(fps).as("fp")).distinct()
      .unionByName(absent.toDF("fp")).distinct().cache()
    val viaIndex = BqfPipeline.queryIndex(shards, probes, params, nBuckets)
      .as[(Long, Long)].collect().toMap
    // broadcast twin: one merged blob answers the same probes
    val f = collectedMerge(shards)
    val expected = probes.as[Long].collect().map(fp => fp -> f.abundance(fp)).toMap
    assert(viaIndex == expected, s"${viaIndex.size} answers vs ${expected.size}")
    // resharding the index must not change any answer
    val resharded = BqfPipeline.reshardMerge(shards, params, 4)
    val viaResharded = BqfPipeline.queryIndex(resharded, probes, params, 4)
      .as[(Long, Long)].collect().toMap
    assert(viaResharded == expected)
    shards.unpersist(); probes.unpersist()
  }

  test("reshardMerge to one shard == mergeAll bytes") {
    val df = TokensTable.dataframe(spark, 200, partitions = 4)
    val fps = sgram_fingerprints(col("tokens"), params.sTokens, params.hashBits, params.seed)
    val i16 = BqfPipeline.buildIndexSorted(df, fps, params, 16).cache()
    val one = BqfPipeline.reshardMerge(i16, params, 1).collect()
    assert(one.length == 1)
    val viaReshard = one(0).getAs[Array[Byte]]("sketch")
    val viaCollected = collectedMerge(i16)
    // the shards are disjoint fingerprint ranges, so the summed distinct
    // counts that size mergeAll's table are the true distinct count
    assert(viaCollected.quotientBits == BackpackFilter.tightQBits(viaCollected.distinctCount))
    assert(java.util.Arrays.equals(viaReshard, viaCollected.serialize()))
    i16.unpersist()
  }
}
