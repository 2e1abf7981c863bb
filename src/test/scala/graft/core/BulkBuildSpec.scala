package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** The RSQF layout is canonical: runs in quotient order, each starting at
  * max(quotient, previous run end + 1), remainders ascending. So the bulk
  * sorted build must produce a table BIT-IDENTICAL to incremental insertion
  * — the strongest possible differential test for the sequential
  * placement/metadata writer.
  */
class BulkBuildSpec extends AnyFunSuite {

  private def incremental(entries: Seq[(Long, Long)], q: Int, c: Int, h: Int,
                          mode: CountMode = CountMode.Exact): BackpackFilter = {
    val f = BackpackFilter(qBits = q, countBits = c, hashBits = h, mode = mode)
    entries.foreach { case (fp, cnt) => f.add(fp, cnt) }
    f
  }

  private def bulk(entries: Seq[(Long, Long)], q: Int, c: Int, h: Int,
                   mode: CountMode = CountMode.Exact): BackpackFilter = {
    val fps = entries.map(_._1).toArray
    // feed RAW counts through the same encode as add(): exact clamps, oom logs
    val enc = BackpackFilter(qBits = q, countBits = c, hashBits = h, mode = mode)
    val counts = entries.map { case (fp, cnt) => mode match {
      case CountMode.Exact => math.min(cnt, (1L << c) - 1)
      case CountMode.OrderOfMagnitude =>
        if (cnt <= 0) 0L else math.min(63 - java.lang.Long.numberOfLeadingZeros(cnt), (1L << c) - 1).toLong
    }}.toArray
    BackpackFilter.fromEntries(q, c, h, mode, enc.kTokens, enc.zTokens, enc.seed, fps, counts, fps.length)
  }

  private def assertTablesIdentical(a: BackpackFilter, b: BackpackFilter, label: String): Unit = {
    assert(a.quotientBits == b.quotientBits, s"$label: q ${a.quotientBits} vs ${b.quotientBits}")
    assert(a.distinctCount == b.distinctCount, s"$label: distinct")
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()), s"$label: table bytes differ")
  }

  test("bulk == incremental on random sets across q, load factors, duplicates") {
    for (seed <- 1 to 8; (q, h, n) <- Seq((7, 20, 60), (7, 20, 120), (8, 16, 180),
                                          (9, 30, 400), (10, 24, 900))) {
      val rng = new Random(seed * 1000 + n)
      val entries = Vector.fill(n)((rng.nextLong() & Bits.maskRight(h), (rng.nextInt(20) + 1).toLong))
      val inc = incremental(entries, q, 5, h)
      val blk = bulk(entries, q, 5, h)
      assertTablesIdentical(inc, blk, s"seed=$seed q=$q h=$h n=$n")
    }
  }

  test("bulk == incremental with auto-resize (start q below capacity)") {
    val rng = new Random(99)
    val entries = Vector.fill(4000)((rng.nextLong() & Bits.maskRight(34), 2L))
    val inc = incremental(entries, 7, 6, 34) // resizes 7 -> 13 on the way
    val blk = bulk(entries, 7, 6, 34)
    assertTablesIdentical(inc, blk, "auto-resize")
  }

  test("bulk == incremental across the single-sort q: distinct, duplicate-heavy, small hashBits") {
    // fromEntries sorts at the q that n0 (pre-dedup) entries need, capped at
    // hashBits - 1, and re-sorts only when dedup lowers q
    val rng = new Random(31)
    def distinctFps(n: Int, h: Int): Vector[Long] =
      Iterator.continually(rng.nextLong() & Bits.maskRight(h)).distinct.take(n).toVector
    val cases = Seq(
      // all distinct: n0 = n, one sort at the final q = 12
      ("all-distinct", 34, distinctFps(3000, 34)),
      // n0 = 1800 needs q = 11, n = 900 fits q = 10 (0.95 * 1024 = 972)
      ("duplicate-heavy", 34, rng.shuffle(distinctFps(900, 34).flatMap(fp => Seq(fp, fp)))),
      // n0 = 70000 would need q = 17 > hashBits = 16; n = 1000 needs q = 11
      ("small-hashBits", 16, rng.shuffle(distinctFps(1000, 16).flatMap(fp => Vector.fill(70)(fp)))))
    for ((label, h, fps) <- cases) {
      val inc = incremental(fps.map(fp => (fp, 1L)), 7, 8, h)
      assertTablesIdentical(inc, bulk(fps.map(fp => (fp, 1L)), 7, 8, h), s"$label counted")
      val allOnes = BackpackFilter.fromEntries(7, 8, h, CountMode.Exact, inc.kTokens, inc.zTokens,
        inc.seed, fps.toArray, null, fps.length)
      assertTablesIdentical(inc, allOnes, s"$label all-ones")
    }
  }

  test("bulk == incremental on toric wrap clusters") {
    // clusters at the last quotients spilling over slot 0
    val q = 7; val h = 16
    val top = (1L << q) - 2
    val entries = (0 until 10).map(r => (((r + 1).toLong << q) | top, 1L)) ++
      (0 until 6).map(r => (((r + 1).toLong << q) | (top + 1), 1L)) ++
      (0 until 4).map(r => (((r + 1).toLong << q) | 1L, 1L))
    val inc = incremental(entries, q, 4, h)
    val blk = bulk(entries, q, 4, h)
    assertTablesIdentical(inc, blk, "toric wrap")
  }

  test("bulk == incremental for order-of-magnitude counters") {
    val rng = new Random(5)
    val entries = Vector.fill(300)((rng.nextLong() & Bits.maskRight(22), (rng.nextInt(1000) + 1).toLong))
    // oom duplicate semantics differ between add (no-op) and merge (max);
    // use distinct fingerprints to compare the structural layout
    val distinctEntries = entries.distinctBy(_._1)
    val inc = incremental(distinctEntries, 8, 4, 22, CountMode.OrderOfMagnitude)
    val blk = bulk(distinctEntries, 8, 4, 22, CountMode.OrderOfMagnitude)
    assertTablesIdentical(inc, blk, "oom")
  }

  test("all-ones oom build stores floor(log2 n) per key: same table as the counted path") {
    // a key seen n times is one key with abundance n; the all-ones combine
    // encodes n once, so it must equal the counted build fed with each
    // distinct key's encoded occurrence count (c = 3: n >= 256 saturates)
    val h = 30
    val rng = new Random(41)
    val keys = Iterator.continually(rng.nextLong() & Bits.maskRight(h)).distinct.take(600).toVector
    val mult = keys.map(fp => fp -> (if (rng.nextInt(4) == 0) 1 + rng.nextInt(400) else 1 + rng.nextInt(4))).toMap
    val occurrences = rng.shuffle(keys.flatMap(fp => Vector.fill(mult(fp))(fp))).toArray
    val allOnes = BackpackFilter.fromEntries(7, 3, h, CountMode.OrderOfMagnitude, 0, 0, 0L,
      occurrences, null, occurrences.length)
    val counted = bulk(keys.map(fp => (fp, mult(fp).toLong)), 7, 3, h, CountMode.OrderOfMagnitude)
    assertTablesIdentical(counted, allOnes, "oom all-ones")
    val once = keys.find(mult(_) == 1).get
    val four = keys.find(mult(_) == 4).get
    assert(allOnes.abundance(once) == 1L && allOnes.abundance(four) == 4L)
  }

  test("mergeAll == sequential mergeInPlace results (enumerate equality)") {
    val h = 34
    val rng = new Random(77)
    val entries = Vector.fill(30000)((rng.nextLong() & Bits.maskRight(h), (rng.nextInt(9) + 1).toLong))
    val parts = (0 until 4).map(s => entries.zipWithIndex.collect { case (e, i) if i % 4 == s => e })
    def shard(p: Seq[(Long, Long)]) = incremental(p, 10, 6, h)
    val viaBulk = BackpackFilter.mergeAll(parts.map(shard))
    val oracle = mutable.Map.empty[Long, Long]
    entries.foreach { case (fp, c) => oracle(fp) = math.min(oracle.getOrElse(fp, 0L) + c, 63L) }
    assert(viaBulk.enumerate() == oracle.toMap)
    // post-merge structure is healthy: inserts/removes/queries still work
    viaBulk.add(12345L & Bits.maskRight(h), 3)
    assert(viaBulk.abundance(12345L & Bits.maskRight(h)) >= 3)
  }

  test("fromEntries handles empty and single-entry inputs") {
    val e = BackpackFilter.fromEntries(7, 5, 20, CountMode.Exact, 0, 0, 0L,
      Array.emptyLongArray, Array.emptyLongArray, 0)
    assert(e.distinctCount == 0 && e.enumerate().isEmpty)
    val s = BackpackFilter.fromEntries(7, 5, 20, CountMode.Exact, 0, 0, 0L,
      Array(0x1234L), Array(7L), 1)
    assert(s.enumerate() == Map(0x1234L -> 7L))
  }
}
