package perfbench

import graft.core.Fingerprint.{splitmix64, windowFingerprints}
import graft.sources.{TokenDoc, TokensTable}

/** Seeded input generators. Every value is a pure function of (seed, index),
  * so the same seed gives the same inputs in any process.
  */
object Inputs {
  private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** FIXTURES §1 tokens row i with a stated share of near-copies: doc i is,
    * with probability dupPct/100, a copy of an earlier base row j (drawn
    * towards small j, so a few rows are copied many times and abundances
    * reach counter saturation) with two tokens replaced.
    */
  def dupRow(seed: Long, i: Long, dupPct: Int): TokenDoc = {
    val h = splitmix64(seed * 7 + i)
    if (i == 0 || Math.floorMod(h, 100L) >= dupPct) TokensTable.rowOf(seed, i)
    else {
      val u = unit(splitmix64(seed * 13 + i))
      val j = (i * u * u * u).toLong
      val base = TokensTable.rowOf(seed, j)
      val t = base.tokens.clone()
      var m = 0
      while (m < 2) {
        val r = splitmix64(seed * 17 + i * 3 + m)
        t(Math.floorMod(r, t.length.toLong).toInt) =
          Math.floorMod(splitmix64(r), TokensTable.VocabSize.toLong).toInt
        m += 1
      }
      TokenDoc(f"doc$i%08d", t, t.length, base.source)
    }
  }

  def kgrams(tokens: Int, s: Int): Long = math.max(0, tokens - s + 1).toLong

  /** `n` fingerprints present in the corpus: s-gram windows of seeded
    * (row, position) pairs.
    */
  def presentProbes(seed: Long, nDocs: Long, dupPct: Int, n: Int, s: Int, hashBits: Int,
                    fpSeed: Long): Array[Long] =
    Array.tabulate(n) { k =>
      val r = splitmix64(seed * 19 + k)
      val doc = dupRow(seed, Math.floorMod(r, nDocs), dupPct)
      val fps = windowFingerprints(doc.tokens, s, hashBits, fpSeed)
      fps(Math.floorMod(splitmix64(r), fps.length.toLong).toInt)
    }

  /** `n` fingerprints from a stream disjoint from the corpus hash stream. */
  def absentProbes(seed: Long, n: Int, hashBits: Int): Array[Long] = {
    val mask = if (hashBits == 64) -1L else (1L << hashBits) - 1
    Array.tabulate(n)(k => splitmix64((seed ^ 0x4242L) * 23 + k) & mask)
  }

  /** FIXTURES §3 query sequences, lengths 160-300: the first 60% copied
    * from indexed docs, the next 20% chimeric (indexed first half, novel
    * second half), the rest novel. Sequence i of any count is the same.
    */
  def sequence(seed: Long, i: Int, nDocs: Long, dupPct: Int): Array[Int] = {
    val len = 160 + Math.floorMod(splitmix64(seed * 29 + i), 141L).toInt
    def novel(from: Int, to: Int): Array[Int] = Array.tabulate(to - from)(j =>
      Math.floorMod(splitmix64((seed ^ 0x5eedL) * 31 + i * 1000003L + from + j),
        TokensTable.VocabSize.toLong).toInt)
    def indexed(n: Int): Array[Int] = {
      var doc = dupRow(seed, Math.floorMod(splitmix64(seed * 37 + i), nDocs), dupPct).tokens
      var k = 1
      while (doc.length < n) { // docs are 64-256 tokens; join consecutive ones
        doc = doc ++ dupRow(seed, Math.floorMod(splitmix64(seed * 37 + i) + k, nDocs), dupPct).tokens
        k += 1
      }
      doc.take(n)
    }
    i % 10 match {
      case c if c < 6 => indexed(len)
      case c if c < 8 => indexed(len / 2) ++ novel(len / 2, len)
      case _ => novel(0, len)
    }
  }

  private val Words = Array("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group", "filter",
    "vector", "index", "sketch", "count", "token", "shard", "probe", "page", "cache")
  private val Langs = Array("en", "en", "en", "en", "de", "fr", "es", "it")

  /** One documents-table row (doc_id, text, lang, source, n_chars): word
    * text over a small vocabulary; 5% of docs repeat an earlier doc's text.
    */
  def document(seed: Long, i: Long): (Long, String, String, String, Long) = {
    val h = splitmix64(seed * 41 + i)
    val textOf = if (i > 0 && Math.floorMod(h, 20L) == 0) Math.floorMod(splitmix64(h), i) else i
    val nWords = 8 + Math.floorMod(splitmix64(seed * 43 + textOf), 90L).toInt
    val text = (0 until nWords).map(j =>
      Words(Math.floorMod(splitmix64(seed * 47 + textOf * 1000003L + j), Words.length.toLong).toInt))
      .mkString(" ")
    val lang = Langs(Math.floorMod(splitmix64(seed * 53 + i), Langs.length.toLong).toInt)
    val source = s"src${Math.floorMod(splitmix64(seed * 59 + i), 20L)}"
    (i, text, lang, source, text.length.toLong)
  }
}
