package perfbench

import graft.core.BackpackFilter
import graft.operators.BqfParams

import scala.collection.mutable

/** One workload: a seeded set-up, a closed-loop iteration with one client,
  * correctness checks run outside the timed window, and the metrics.
  *
  * Untraced run: the set-up runs [[Workload.Setups]] times (setup_s is their
  * median), one warm-up iteration runs untimed, then iterations repeat until
  * `seconds` have passed and the checks run.
  *
  * Traced run: one set-up under spans, a warm-up, then untraced and traced
  * iterations in turn for `seconds` (their per-iteration difference is the
  * tracing overhead), then the checks, then the workload's decomposition
  * spans and the single-thread core rates.
  */
abstract class Workload(val c: Ctx) {
  val spark: org.apache.spark.sql.SparkSession = c.spark

  def setup(): Unit
  def iteration(): Unit
  /** Samples of the timed phase are cleared before it starts. */
  def resetSamples(): Unit
  /** Items one iteration processes (k-grams, probes, fingerprints, entries). */
  def itemsPerIteration: Double
  /** Client-side inputs (probe sets), generated once after the set-ups. */
  def prepareInputs(): Unit = ()
  /** Untimed iteration that lets the JIT and Spark's code generation warm up. */
  def warmUp(): Unit = iteration()
  def check(): Unit
  /** End-to-end metrics except setup_s; step samples are in [[steps]]. */
  def endToEnd(): Unit
  def decompose(): Unit = ()
  /** Fingerprint sample, token sequences and the workload's main sketch for
    * the single-thread core rates.
    */
  def coreInputs(): (BqfParams, Array[Long], Array[Array[Int]], BackpackFilter)
  def catalogCheck: Option[String] = None

  val steps = mutable.ArrayBuffer.empty[Double]
  private var iterations = 0

  private def loop(seconds: Double): (Int, Double) = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      c.span("run", "iteration")(iteration())
      n += 1
    }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  protected def putSteps(): Unit = {
    c.endToEnd("step_p50_s") = Stats.median(steps.toSeq)
    val (tail, p) = Stats.tail(steps.toSeq)
    c.endToEnd("step_tail_s") = tail
    System.err.println(f"step_tail_s is p${p * 100}%.1f of ${steps.size} samples")
  }

  def execute(): Unit = {
    Layers.names.foreach(n => c.layer(n) = 0.0)
    if (!c.trace) {
      val setupS = (0 until Workload.Setups).map(_ => Stats.seconds(setup()))
      System.err.println(setupS.map(t => f"$t%.2f").mkString(s"${c.workload}: set-ups took ", ", ", " s"))
      prepareInputs()
      System.err.println(f"${c.workload}: warm-up took ${Stats.seconds(warmUp())}%.2f s")
      resetSamples()
      val (n, wall) = loop(c.seconds)
      iterations = n
      System.err.println(f"${c.workload}: $n iterations in $wall%.2f s")
      c.endToEnd("setup_s") = Stats.median(setupS)
      endToEnd()
      System.err.println(f"${c.workload}: checks took ${Stats.seconds(check())}%.2f s")
    } else {
      val gc0 = Layers.gcMs()
      c.tracer.enable()
      setup()
      c.layer("sources.generate_s") = c.tracer.inLayer("sources").map(_.seconds).sum
      c.tracer.disable()
      prepareInputs()
      warmUp()
      resetSamples()
      // untraced and traced iterations alternate, so JIT warm-up and host
      // drift fall on both sides of the overhead comparison alike
      val plain = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Double]
      var roots = Seq.empty[Span]
      val t0 = System.nanoTime()
      while (traced.isEmpty || (System.nanoTime() - t0) / 1e9 < c.seconds) {
        val on = plain.size > traced.size
        if (on) c.tracer.enable() else c.tracer.disable()
        val first = c.tracer.spans.length
        val wall = Stats.seconds(c.span("run", "iteration")(iteration()))
        if (on) {
          traced += wall
          roots ++= c.tracer.spans.drop(first).filter(_.layer == "run")
        } else plain += wall
      }
      val nB = traced.size
      c.tracer.disable()
      iterations = nB
      endToEnd()
      check()
      c.tracer.enable()
      decompose()
      val (params, fps, seqs, main) = coreInputs()
      CoreRates.measure(c, params, fps, seqs, main)
      c.tracer.disable()
      Layers.fill(c, roots, itemsPerIteration, nB)
      val (meanPlain, meanTraced) = (plain.sum / plain.size, traced.sum / traced.size)
      c.layer("trace.overhead_s") = meanTraced - meanPlain
      c.layer("trace.overhead_frac") = meanTraced / meanPlain - 1.0
      c.layer("trace.spans") = c.tracer.spans.length
      c.layer("jvm.gc_ms") = Layers.gcMs() - gc0
      c.layer("jvm.heap_peak_mb") = Layers.heapPeakMb()
      c.layer("run.step_samples") = steps.size
      c.layer("run.step_tail_percentile") = Stats.tail(steps.toSeq)._2 * 100
      c.layer("run.iterations") = iterations
    }
    c.layer("checks.failed_frac") = if (c.attempted == 0) 0.0 else c.failed.toDouble / c.attempted
  }
}

object Workload {
  val Setups = 3
}

/** Order-independent digest of a multiset of (fingerprint, abundance)
  * entries, used to compare two sketches or stores entry by entry.
  */
final case class Digest(entries: Long, total: Long, mix: Long) {
  def +(o: Digest): Digest = Digest(entries + o.entries, total + o.total, mix ^ o.mix)
}

object Digest {
  val Empty = Digest(0, 0, 0)
  def of(f: BackpackFilter): Digest = {
    var n = 0L; var t = 0L; var x = 0L
    f.entries().foreach { case (fp, a) =>
      n += 1; t += a
      x ^= graft.core.Fingerprint.splitmix64(fp ^ graft.core.Fingerprint.splitmix64(a))
    }
    Digest(n, t, x)
  }
  def ofBlobs(blobs: Iterable[Array[Byte]]): Digest =
    blobs.foldLeft(Empty)((d, b) => d + of(BackpackFilter.deserialize(b)))
}

/** Single-thread rates of the core kernel from direct calls on a sample of
  * the workload's own fingerprints (median of three repetitions).
  */
object CoreRates {
  private def rate(c: Ctx, name: String, items: Double)(prepare: => Unit)(body: => Unit): Double =
    Stats.median((0 until 3).map { _ =>
      prepare
      items / Stats.seconds(c.span("core", name)(body))
    })

  def measure(c: Ctx, p: BqfParams, fps: Array[Long], seqs: Array[Array[Int]],
              main: BackpackFilter): Unit = {
    val n = fps.length
    def build(xs: Array[Long], counts: Array[Long]): BackpackFilter =
      BackpackFilter.fromEntries(7, p.countBits, p.hashBits, p.mode, p.kTokens, p.zTokens, p.seed,
        xs, counts, xs.length)
    var sink = 0L
    c.layer("core.from_entries_keys_per_s") = rate(c, "from_entries_keys", n)(())(build(fps, null))
    val f = build(fps, null)
    val quarters = fps.grouped((n + 3) / 4).toArray
    val one = Stats.median((0 until 3).map(_ => Stats.seconds(c.span("core", "from_entries_1t")(
      quarters.foreach(q => build(q, null))))))
    val four = Stats.median((0 until 3).map(_ => Stats.seconds(c.span("core", "from_entries_4t") {
      val ts = quarters.map(q => new Thread(() => { build(q, null); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
    })))
    c.layer("core.from_entries_eff_1_4") = one / (quarters.length * four)
    val (dfps, dcounts) = {
      val e = f.entries().toArray
      (e.map(_._1), e.map(_._2))
    }
    c.layer("core.from_entries_counted_per_s") =
      rate(c, "from_entries_counted", dfps.length)(())(build(dfps, dcounts))
    var g: BackpackFilter = null
    c.layer("core.add_per_s") = rate(c, "add", n) {
      g = BackpackFilter(7, p.countBits, p.hashBits, p.mode, p.kTokens, p.zTokens, p.seed)
    }(fps.foreach(fp => g.add(fp)))
    c.layer("core.resizes") = g.quotientBits - 7
    val absent = Inputs.absentProbes(c.seed + 1, n, p.hashBits)
    c.layer("core.abundance_hit_per_s") = rate(c, "abundance_hit", n)(())(fps.foreach(fp => sink += f.abundance(fp)))
    c.layer("core.abundance_miss_per_s") = rate(c, "abundance_miss", n)(())(absent.foreach(fp => sink += f.abundance(fp)))
    if (seqs.nonEmpty)
      c.layer("core.sequence_stats_per_s") = rate(c, "sequence_stats", seqs.length)(())(
        seqs.foreach(t => sink += f.sequenceStats(t).minimum))
    // a delta of 1/16 of the entries folds into the rest: the incremental
    // merge shape of one ingest batch into a live shard
    val cut = dfps.length - dfps.length / 16
    var big: BackpackFilter = null
    val small = build(dfps.drop(cut), dcounts.drop(cut))
    c.layer("core.merge_in_place_per_s") = rate(c, "merge_in_place", dfps.length - cut) {
      big = build(dfps.take(cut), dcounts.take(cut))
    }(big.mergeInPlace(small))
    val bytes = main.serialize()
    c.layer("core.serialize_mb_per_s") = rate(c, "serialize", bytes.length / 1e6)(())(sink += main.serialize().length)
    c.layer("core.deserialize_mb_per_s") = rate(c, "deserialize", bytes.length / 1e6)(())(
      sink += BackpackFilter.deserialize(bytes).distinctCount)
    c.layer("core.load_factor") = main.distinctCount.toDouble / (1L << main.quotientBits)
    if (sink == 42) System.err.print("")
  }
}
