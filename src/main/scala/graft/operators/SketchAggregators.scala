package graft.operators

import graft.core.{BackpackFilter, CountMode}
import graft.sketch.{BloomSketch, CountMinSketch, HyperLogLog}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Construction parameters for a distributed BQF build.
  *
  * @param qBits     start quotient bits of the per-insert UDAF buffers
  *                  (capped at 12; they auto-resize at 95% load). The sorted
  *                  shard core and `reshardMerge` ignore it: their tables
  *                  sit at the tight q for their distinct count.
  * @param countBits abundance counter bits (saturates at 2^c - 1)
  * @param hashBits  fingerprint width; FP bound = 2^-(hashBits - qBits)
  */
final case class BqfParams(
    qBits: Int = 16,
    countBits: Int = 16,
    hashBits: Int = 48,
    mode: CountMode = CountMode.Exact,
    kTokens: Int = 8,
    zTokens: Int = 2,
    seed: Long = 0L) {
  /** Tokens per inserted s-gram: s = k - z. */
  def sTokens: Int = kTokens - zTokens

  /** Aggregation zero buffers start tiny (q=7, ~1.3 KB) and auto-resize:
    * growth is amortized O(n) through the bulk rebuild, while a full-size
    * zero would cost 2^qBits words per (group x partition) buffer — a
    * memory/caching disaster for wide grouped builds.
    */
  def fresh(): BackpackFilter =
    BackpackFilter(math.min(qBits, 12), countBits, hashBits, mode, kTokens, zTokens, seed)
}

/** Aggregation buffer: a live filter absorbing this task's rows plus a list
  * of already-built shards merged in from other partials. Keeping shards
  * lazy lets `finish` fold them in ONE k-way bulk merge (gather + radix sort
  * + sequential build) instead of k pairwise re-sorts — the final reducer of
  * a wide aggregation touches each entry once. At most `MaxPending` (16)
  * shards stay buffered, so executor memory stays flat on very wide merges.
  */
final class BqfShards(var live: BackpackFilter,
                      var pending: List[BackpackFilter]) extends Serializable
    with com.esotericsoftware.kryo.KryoSerializable {
  def absorb(other: BqfShards): BqfShards = {
    pending = other.live :: other.pending ::: pending
    if (pending.size >= BqfShards.MaxPending) consolidate()
    this
  }
  def consolidate(): BqfShards = {
    if (pending.nonEmpty) {
      live = BackpackFilter.mergeAll(live :: pending)
      pending = Nil
    }
    this
  }
  def result(): Array[Byte] = consolidate().live.serialize()

  // Kryo moves these buffers across every partial-aggregation exchange;
  // the default field serializer walks the filter object graph and writes
  // the table array element-wise. Routing through the filter's own
  // serialize()/deserialize() ships the canonical blob with one bulk copy
  // instead — and consolidating first means a buffer crosses the wire as
  // ONE filter, which the receiving merge had to fold anyway.
  override def write(kryo: com.esotericsoftware.kryo.Kryo,
                     output: com.esotericsoftware.kryo.io.Output): Unit = {
    val b = consolidate().live.serialize()
    output.writeInt(b.length)
    output.writeBytes(b)
  }
  override def read(kryo: com.esotericsoftware.kryo.Kryo,
                    input: com.esotericsoftware.kryo.io.Input): Unit = {
    live = BackpackFilter.deserialize(input.readBytes(input.readInt()))
    pending = Nil
  }
}

object BqfShards {
  private val MaxPending = 16
}

/** The central mergeable UDAF of the library: each executor folds the
  * fingerprint arrays of its partition into a local [[BackpackFilter]];
  * Catalyst's partial aggregation merges shard sketches at the shuffle
  * boundary (the signature named by the north star:
  * Aggregator[IN, BQFSketch, OUT]). The buffer lives as a JVM object inside
  * ObjectHashAggregate, serialized only when partials cross the exchange.
  */
class BqfArrayAggregator(params: BqfParams)
    extends Aggregator[Array[Long], BqfShards, Array[Byte]] {
  override def zero: BqfShards = new BqfShards(params.fresh(), Nil)
  override def reduce(b: BqfShards, fps: Array[Long]): BqfShards = {
    var i = 0
    while (i < fps.length) { b.live.add(fps(i), 1L); i += 1 }
    b
  }
  override def merge(a: BqfShards, b: BqfShards): BqfShards = a.absorb(b)
  override def finish(r: BqfShards): Array[Byte] = r.result()
  override def bufferEncoder: Encoder[BqfShards] = Encoders.kryo[BqfShards]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Weighted variant: rows are (fingerprint, count) pairs — the shape of the
  * reference's counted-s-mer input (/root/reference/src/abstract_bqf.cpp:22-52).
  */
class BqfCountedAggregator(params: BqfParams)
    extends Aggregator[(Long, Long), BqfShards, Array[Byte]] {
  override def zero: BqfShards = new BqfShards(params.fresh(), Nil)
  override def reduce(b: BqfShards, in: (Long, Long)): BqfShards = {
    b.live.add(in._1, in._2); b
  }
  override def merge(a: BqfShards, b: BqfShards): BqfShards = a.absorb(b)
  override def finish(r: BqfShards): Array[Byte] = r.result()
  override def bufferEncoder: Encoder[BqfShards] = Encoders.kryo[BqfShards]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** `rehash = true` (default) runs inputs through the XXH64 finalizer
  * (addValue) — right for arbitrary values. `rehash = false` feeds inputs
  * straight into the registers — right when they are already full-avalanche
  * hashes (e.g. the splitmix64 shingle fingerprints q21 uses so its DuckDB
  * oracle can replay the registers in closed form).
  */
class HllArrayAggregator(p: Int, rehash: Boolean = true) extends Aggregator[Array[Long], HyperLogLog, Long] {
  override def zero: HyperLogLog = new HyperLogLog(p)
  override def reduce(b: HyperLogLog, fps: Array[Long]): HyperLogLog = {
    var i = 0
    while (i < fps.length) { if (rehash) b.addValue(fps(i)) else b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: HyperLogLog, b: HyperLogLog): HyperLogLog = a.merge(b)
  override def finish(r: HyperLogLog): Long = r.estimate()
  override def bufferEncoder: Encoder[HyperLogLog] = Encoders.kryo[HyperLogLog]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

class CountMinArrayAggregator(depth: Int, widthBits: Int)
    extends Aggregator[Array[Long], CountMinSketch, Array[Byte]] {
  override def zero: CountMinSketch = new CountMinSketch(depth, widthBits)
  override def reduce(b: CountMinSketch, fps: Array[Long]): CountMinSketch = {
    var i = 0
    while (i < fps.length) { b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.merge(b)
  override def finish(r: CountMinSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class BloomArrayAggregator(mBits: Long, k: Int)
    extends Aggregator[Array[Long], BloomSketch, Array[Byte]] {
  override def zero: BloomSketch = new BloomSketch(mBits, k)
  override def reduce(b: BloomSketch, fps: Array[Long]): BloomSketch = {
    var i = 0
    while (i < fps.length) { b.add(fps(i)); i += 1 }
    b
  }
  override def merge(a: BloomSketch, b: BloomSketch): BloomSketch = a.merge(b)
  override def finish(r: BloomSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[BloomSketch] = Encoders.kryo[BloomSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class TDigestAggregator(compression: Double)
    extends Aggregator[Double, graft.sketch.TDigest, Array[Byte]] {
  override def zero: graft.sketch.TDigest = new graft.sketch.TDigest(compression)
  override def reduce(b: graft.sketch.TDigest, x: Double): graft.sketch.TDigest = { b.add(x); b }
  override def merge(a: graft.sketch.TDigest, b: graft.sketch.TDigest): graft.sketch.TDigest = a.merge(b)
  override def finish(r: graft.sketch.TDigest): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[graft.sketch.TDigest] = Encoders.kryo[graft.sketch.TDigest]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

class KllAggregator(k: Int)
    extends Aggregator[Double, graft.sketch.KllSketch, Array[Byte]] {
  override def zero: graft.sketch.KllSketch = new graft.sketch.KllSketch(k)
  override def reduce(b: graft.sketch.KllSketch, x: Double): graft.sketch.KllSketch = { b.add(x); b }
  override def merge(a: graft.sketch.KllSketch, b: graft.sketch.KllSketch): graft.sketch.KllSketch = a.merge(b)
  override def finish(r: graft.sketch.KllSketch): Array[Byte] = r.serialize()
  override def bufferEncoder: Encoder[graft.sketch.KllSketch] = Encoders.kryo[graft.sketch.KllSketch]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** udaf(...) registrations — each returns a Column-applicable function. */
object SketchAggregators {
  private implicit val longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  private implicit val longPairEnc: Encoder[(Long, Long)] = ExpressionEncoder[(Long, Long)]()

  def bqfOverFingerprintArrays(params: BqfParams): UserDefinedFunction =
    udaf(new BqfArrayAggregator(params), longArrayEnc)

  def bqfOverCountedFingerprints(params: BqfParams): UserDefinedFunction =
    udaf(new BqfCountedAggregator(params), longPairEnc)

  def hllOverFingerprintArrays(p: Int = 14, rehash: Boolean = true): UserDefinedFunction =
    udaf(new HllArrayAggregator(p, rehash), longArrayEnc)

  def countMinOverFingerprintArrays(depth: Int = 5, widthBits: Int = 16): UserDefinedFunction =
    udaf(new CountMinArrayAggregator(depth, widthBits), longArrayEnc)

  def bloomOverFingerprintArrays(mBits: Long, k: Int): UserDefinedFunction =
    udaf(new BloomArrayAggregator(mBits, k), longArrayEnc)

  def tdigest(compression: Double = 100.0): UserDefinedFunction =
    udaf(new TDigestAggregator(compression), Encoders.scalaDouble)

  def kll(k: Int = 200): UserDefinedFunction =
    udaf(new KllAggregator(k), Encoders.scalaDouble)
}
