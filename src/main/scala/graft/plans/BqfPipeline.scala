package graft.plans

import graft.core.BackpackFilter
import graft.operators.{BqfParams, SketchAggregators}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed build plans for BQF sketches.
  *
  * Scale design (100 TB / 1000 executors): every single-sketch build goes
  * through one sorted shard core. Map tasks group fingerprints into
  * array chunks by fingerprint-range bucket (high bits), the exchange moves
  * those 8-byte fingerprints to one reduce task per core, each owning a
  * contiguous run of buckets, and a task builds its shards one at a time,
  * each in one radix-sorted `fromEntries` pass; a writer downstream makes
  * one file per task, not one per bucket. [[reshardMerge]] is the one fold
  * of shard sketches: another sorted build, at the tight canonical q
  * whether its input shards are disjoint or overlap. The per-insert UDAF
  * remains for the builds that group rows by a key other than the
  * fingerprint: the salted per-source build, and the checkpointed build,
  * whose deterministic row-id buckets make checkpoints resumable and
  * replays idempotent.
  */
object BqfPipeline {

  /** Single-sketch build: the sorted shard build over `nBuckets` fingerprint
    * ranges, resharded to one blob. The result is the canonical table at
    * q = `BackpackFilter.tightQBits(distinctCount)`, byte-identical for any
    * `nBuckets` and any input partitioning. An input with no fingerprints
    * gives a valid empty sketch. `idCol` is unused: shards are fingerprint
    * ranges, not row-id buckets; the parameter keeps the signature.
    */
  def buildSharded(df: DataFrame, fpCol: Column, idCol: Column, params: BqfParams,
                   nBuckets: Int): Array[Byte] =
    foldToOne(buildIndexSorted(df, fpCol, params, nBuckets), params)

  /** [[reshardMerge]] to one collected blob; no shards give a valid empty sketch. */
  private[plans] def foldToOne(shards: DataFrame, params: BqfParams): Array[Byte] =
    reshardMerge(shards, params, 1)
      .collect().headOption.map(_.getAs[Array[Byte]]("sketch"))
      .getOrElse(buildShard(Array.emptyLongArray, null, params))

  /** Scale-path index build: explode fingerprints, shuffle them to
    * fingerprint-range buckets (high bits, so quotients inside each shard
    * stay uniform), and construct each shard filter in ONE sequential pass
    * from its gathered entries — no per-insert aggregation, no buffer
    * resize churn, no big-object serialization beyond the final sketch
    * blobs. Point queries route to a shard by the same high bits. This is
    * how the build survives 100 TB: Spark's shuffle machinery moves 8-byte
    * fingerprints; the sketch is only materialized once per shard.
    *
    * Returns (bucket, serialized sketch) rows in min(nBuckets,
    * defaultParallelism) partitions, each an ascending contiguous run of
    * buckets (see [[shardExchange]]); `nBuckets` must be a power of two.
    */
  def buildIndexSorted(df: DataFrame, fpCol: Column, params: graft.operators.BqfParams,
                       nBuckets: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    sortedShards(df.select(fpCol.as("fps")).as[Array[Long]], params, nBuckets)
  }

  /** [[buildIndexSorted]] over an ALREADY-EXPLODED fingerprint column (one
    * Long row per k-gram) — the input shape a streaming ingest batch or a
    * cached/filtered fingerprint table hands you. The singles are re-batched
    * into arrays, so the plan is the same from the chunking map stage on and
    * bulk-vs-incremental comparisons charged from the same cached input are
    * symmetric.
    */
  def buildIndexSortedFromFps(fps: DataFrame, params: BqfParams, nBuckets: Int): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    sortedShards(fps.select(col("fp")).as[Long].mapPartitions(_.grouped(8192).map(_.toArray)),
      params, nBuckets)
  }

  /** The sorted shard core: chunk by bucket map-side, exchange the chunks
    * to one reduce task per core, gather each bucket's chunks and build its
    * shard with `fromEntries`, one shard at a time.
    */
  private def sortedShards(fpArrays: Dataset[Array[Long]], params: BqfParams,
                           nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = fpArrays.sparkSession
    import spark.implicits._
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    // Map-side bucketing into ARRAY CHUNKS: a profile of this job at 155M
    // k-grams showed fingerprint extraction itself costs ~2 s at 8 cores
    // while shuffling the fingerprints as individual rows cost ~21 s and
    // re-reading them through the typed row boundary another ~13 s — the
    // row machinery, not the bytes, dominates. So each input task groups
    // its fingerprints by destination bucket and emits one (bucket, chunk)
    // array row per bucket (~tasks x buckets rows total instead of one row
    // per k-gram); array encode/decode is a memcpy. Same shuffle BYTES,
    // ~10^4x fewer shuffle ROWS.
    shardExchange(fpArrays
      .mapPartitions(docs => chunkByBucket(docs, nBuckets, shift))
      .toDF("bucket", "chunk"), nBuckets)
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        gatherChunks(it.map { case (b, c) => (b, c, null) }).map { case (bucket, fps, _) =>
          (bucket, buildShard(fps, null, params))
        }
      }
      .toDF("bucket", "sketch")
  }

  /** The shard exchange: (bucket, ...) chunk rows move to
    * min(nBuckets, defaultParallelism) reduce tasks, each owning an equal,
    * contiguous, ascending run of buckets. `repartitionById` places rows
    * exactly; hash placement leaves some tasks empty and stacks buckets on
    * others. A task that owns several buckets sorts its chunk rows by
    * bucket (~tasks x buckets array rows, in Spark-managed spillable
    * memory), so [[gatherChunks]] still materializes one shard at a time.
    * `Dataset.coalesce` would avoid the sort but, under shuffle reduce
    * locality, deals partitions to tasks round-robin, not in runs.
    */
  private def shardExchange(chunks: DataFrame, nBuckets: Int): DataFrame = {
    val tasks = math.min(nBuckets, chunks.sparkSession.sparkContext.defaultParallelism)
    val byTask = chunks.repartitionById(tasks,
      shiftright(col("bucket") * tasks, java.lang.Integer.numberOfTrailingZeros(nBuckets)).cast("int"))
    if (tasks == nBuckets) byTask else byTask.sortWithinPartitions("bucket")
  }

  /** Map-side bucketizer shared by the index builds: groups each task's
    * fingerprints by destination bucket into array-chunk rows.
    *
    * Bounded buffering: builders flush to chunk rows every ~4M buffered
    * fingerprints (32 MB), so task heap is independent of input-partition
    * size (an unbounded version scales with the partition — a skewed 100 TB
    * split would OOM the task). The shuffle writer consumes this iterator
    * lazily, so flushed chunks leave the heap as they are emitted. Null
    * fingerprint arrays (a null text/tokens row upstream) contribute
    * nothing, matching the old explode path's semantics.
    */
  private def chunkByBucket(docs: Iterator[Array[Long]], nBuckets: Int,
                            shift: Int): Iterator[(Long, Array[Long])] =
    new Iterator[(Long, Array[Long])] {
      private val builders = new Array[scala.collection.mutable.ArrayBuilder.ofLong](nBuckets)
      private val queue = scala.collection.mutable.Queue.empty[(Long, Array[Long])]
      private var nBuffered = 0L
      private val flushAt = 4L << 20
      // expected entries per bucket per flush epoch (uniform fingerprints):
      // pre-sizing the builders removes the doubling-growth copies, which
      // at full flush epochs re-copy roughly the whole buffered volume
      private val hint = math.min(flushAt / nBuckets, 1L << 20).toInt
      private def flush(): Unit = {
        var b = 0
        while (b < nBuckets) {
          val bb = builders(b)
          if (bb != null) { queue.enqueue((b.toLong, bb.result())); builders(b) = null }
          b += 1
        }
        nBuffered = 0L
      }
      private def fill(): Unit =
        while (queue.isEmpty && docs.hasNext) {
          while (docs.hasNext && nBuffered < flushAt) {
            val fps = docs.next()
            if (fps != null) {
              var i = 0
              while (i < fps.length) {
                val fp = fps(i)
                val b = (fp >>> shift).toInt
                var bb = builders(b)
                if (bb == null) {
                  bb = new scala.collection.mutable.ArrayBuilder.ofLong
                  bb.sizeHint(hint)
                  builders(b) = bb
                }
                bb.addOne(fp)
                i += 1
              }
              nBuffered += fps.length
            }
          }
          flush()
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): (Long, Array[Long]) = { fill(); queue.dequeue() }
    }

  /** Reduce-task memory guard: a shard build gathers its whole shard
    * (~16 B per fingerprint + radix buffers), so an under-sharded huge
    * corpus would OOM the executor mid-stage with no hint. Fail FAST with
    * the actionable fix instead (measured on the 620 M-k-gram run: 128
    * shards x 32 tasks broke an 8 GiB heap; 256 x 16 built fine). The cap
    * is a per-shard fingerprint budget — a task gathers one shard at a
    * time, so it bounds exactly one shard — overridable via the
    * `graft.maxShardFps` system property.
    */
  private def maxShardFps: Long =
    java.lang.Long.getLong("graft.maxShardFps", 96L << 20) // ~1.5 GB gathered

  /** Concatenate a task's chunk rows ((bucket, fps, stored?) with stored
    * null for the all-ones build), which [[shardExchange]] delivers grouped
    * by ascending bucket, into one contiguous pair of arrays per bucket —
    * plain arraycopies, no per-entry work, one shard held at a time.
    */
  private def gatherChunks(it: Iterator[(Long, Array[Long], Array[Long])])
      : Iterator[(Long, Array[Long], Array[Long])] = {
    val rows = it.buffered
    val cap = maxShardFps
    new Iterator[(Long, Array[Long], Array[Long])] {
      override def hasNext: Boolean = rows.hasNext
      override def next(): (Long, Array[Long], Array[Long]) = {
        val bucket = rows.head._1
        val parts = scala.collection.mutable.ArrayBuffer.empty[(Array[Long], Array[Long])]
        var n = 0L
        while (rows.hasNext && rows.head._1 == bucket) {
          val (_, fps, stored) = rows.next()
          n += fps.length
          if (n > cap) throw new IllegalStateException(
            s"shard gather exceeds $cap fingerprints in one shard — the corpus is " +
            "under-sharded for this executor memory; raise nBuckets (shard size = " +
            "total fingerprints / nBuckets must fit task memory at ~16 B each) or " +
            "-Dgraft.maxShardFps to raise the guard")
          parts += ((fps, stored))
        }
        val fps = new Array[Long](n.toInt)
        val stored = if (parts.head._2 == null) null else new Array[Long](n.toInt)
        var off = 0
        parts.foreach { case (f, s) =>
          System.arraycopy(f, 0, fps, off, f.length)
          if (stored != null) System.arraycopy(s, 0, stored, off, s.length)
          off += f.length
        }
        (bucket, fps, stored)
      }
    }
  }

  private def buildShard(fps: Array[Long], stored: Array[Long], params: BqfParams): Array[Byte] =
    BackpackFilter.fromEntries(
      7, params.countBits, params.hashBits, params.mode,
      params.kTokens, params.zTokens, params.seed, fps, stored, fps.length).serialize()

  /** Distributed merge / re-shard, the one fold of shard sketches: enumerate
    * every shard sketch in parallel (lazy raw iteration — no shard is
    * materialized as an entry array on a single node), shuffle the raw
    * (fingerprint, storedCount) pairs to `nOut` fingerprint-range buckets as
    * paired ARRAY CHUNKS (same rows-are-the-cost lesson as
    * [[buildIndexSorted]]), and bulk-rebuild one sketch per output bucket:
    * `nOut` independent O(n) sorted builds, spread over one reduce task per
    * core by the same [[shardExchange]] as the build, so merge wall time
    * scales with cores. Output bucket b of nOut is exactly the merge of the
    * input shards' entries in that fingerprint range (high-bit prefix
    * nesting), at the tight q for its distinct count, regardless of how the
    * inputs were sharded or whether they overlap.
    */
  def reshardMerge(shards: DataFrame, params: BqfParams, nOut: Int): DataFrame = {
    require(nOut >= 1 && (nOut & (nOut - 1)) == 0, "nOut must be a power of 2")
    val spark = shards.sparkSession
    import spark.implicits._
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nOut)
    shardExchange(shards.select("sketch").as[Array[Byte]]
      .mapPartitions(_.flatMap(bytes =>
        splitByBucket(BackpackFilter.deserialize(bytes), nOut, shift)))
      .toDF("bucket", "fps", "stored"), nOut)
      .as[(Long, Array[Long], Array[Long])]
      .mapPartitions(it => gatherChunks(it).map { case (bucket, fps, stored) =>
        (bucket, buildShard(fps, stored, params))
      })
      .toDF("bucket", "sketch")
  }

  /** One input shard's raw entries as (bucket, fps, stored) chunk rows, one
    * per output bucket it touches. The arrays are sized from the shard's
    * `distinctCount`, and each shard's rows are emitted before the next
    * shard is read, so a map task holds one input shard at a time.
    */
  private def splitByBucket(f: BackpackFilter, nOut: Int,
                            shift: Int): Iterator[(Long, Array[Long], Array[Long])] = {
    val n = f.distinctCount.toInt
    val fps = new Array[Long](n)
    val stored = new Array[Long](n)
    val sizes = new Array[Int](nOut)
    var i = 0
    // specialized visitor: zero boxing across the 10^8-entry stream
    f.foreachRaw { (fp, s) =>
      fps(i) = fp; stored(i) = s; sizes((fp >>> shift).toInt) += 1; i += 1
    }
    val used = (0 until nOut).filter(sizes(_) > 0)
    if (used.length <= 1) return used.iterator.map(b => (b.toLong, fps, stored))
    val outF = new Array[Array[Long]](nOut)
    val outS = new Array[Array[Long]](nOut)
    used.foreach { b => outF(b) = new Array[Long](sizes(b)); outS(b) = new Array[Long](sizes(b)) }
    java.util.Arrays.fill(sizes, 0)
    i = 0
    while (i < n) {
      val b = (fps(i) >>> shift).toInt
      outF(b)(sizes(b)) = fps(i); outS(b)(sizes(b)) = stored(i); sizes(b) += 1
      i += 1
    }
    used.iterator.map(b => (b.toLong, outF(b), outS(b)))
  }

  /** The enumerate operator exposed relationally at scale: explode every
    * (bucket, sketch) shard row into its (fingerprint, abundance) entries,
    * streaming — nothing is materialized on the driver (ref enumerate,
    * /root/reference/src/rsqf.cpp:380-415, as a distributed flatMap).
    */
  def enumerateIndex(shards: DataFrame): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select("sketch").as[Array[Byte]]
      .flatMap(b => graft.core.BackpackFilter.deserialize(b).entries())
      .toDF("fingerprint", "abundance")
  }

  /** Distributed point queries against a sharded index — the query path
    * once the index exceeds broadcast size (a 100 TB corpus's index is
    * GBs-to-TBs of shards; no single sketch can ride a broadcast variable).
    * Probes are routed to their shard by the same high-bit bucketing the
    * build used, co-grouped with the shard blob, and answered task-locally:
    * the shuffle moves 8-byte probe fingerprints plus each shard blob
    * exactly once; each reducer deserializes its shard once and probes all
    * of its fingerprints. Probes whose bucket has no shard answer 0
    * (nothing was ever inserted there). Returns (fp, abundance).
    */
  def queryIndex(shards: DataFrame, probes: DataFrame, params: BqfParams,
                 nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0, "nBuckets must be a power of 2")
    val spark = shards.sparkSession
    import spark.implicits._
    val shift = params.hashBits - java.lang.Integer.numberOfTrailingZeros(nBuckets)
    val probesByBucket = probes.select(col("fp")).as[Long].groupByKey(fp => fp >>> shift)
    val shardsByBucket = shards.select(col("bucket"), col("sketch"))
      .as[(Long, Array[Byte])].groupByKey(_._1)
    probesByBucket.cogroup(shardsByBucket) { (bucket, ps, ss) =>
      if (!ss.hasNext) ps.map(fp => (fp, 0L))
      else {
        val first = ss.next()._2
        // Multiple rows for one bucket are ambiguous: a multi-version ingest
        // store (bucket, sketch, batch_id) holds SUPERSEDED versions whose
        // merge would double-count, while answering from an arbitrary row
        // would silently answer from a stale version. Refuse instead of
        // guessing — read ingest stores through IndexIngest.currentShards
        // (Cli query-index does this automatically) or compact first.
        require(!ss.hasNext,
          s"queryIndex: multiple sketch rows for bucket $bucket -- this looks like a " +
            "multi-version ingest store; query IndexIngest.currentShards(...) or compact it first")
        val f = graft.core.BackpackFilter.deserialize(first)
        ps.map(fp => (fp, f.abundance(fp)))
      }
    }.toDF("fp", "abundance")
  }

  /** [[reshardMerge]] of (bucket, sketch) rows to one blob, with the params
    * read from the first blob's header; `null` for no rows. `width0` and
    * `fanout` are unused; the signature stays for existing callers.
    */
  def treeMerge(shards: DataFrame, width0: Int, fanout: Int): Array[Byte] =
    shards.select("sketch").head(1).headOption.map { r =>
      val f = BackpackFilter.deserialize(r.getAs[Array[Byte]](0))
      foldToOne(shards, BqfParams(f.quotientBits, f.countBits, f.hashBits, f.mode,
        f.kTokens, f.zTokens, f.seed))
    }.orNull

  /** Two-level skew-safe per-source build: hot `source` values fan out over
    * `salts` deterministic salt buckets before the per-source merge, so no
    * single task absorbs a hot key's entire row stream; each source's at
    * most `salts` partials then fold in one `BackpackFilter.mergeAll`.
    */
  def buildPerSource(df: DataFrame, fpCol: Column, idCol: Column, sourceCol: Column,
                     params: BqfParams, salts: Int = 8): DataFrame = {
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val merge = udf((partials: Seq[Array[Byte]]) =>
      BackpackFilter.mergeAll(partials.map(BackpackFilter.deserialize)).serialize())
    df.withColumn("__salt", pmod(xxhash64(idCol), lit(salts)))
      .groupBy(sourceCol.as("source"), col("__salt"))
      .agg(bqf(fpCol).as("partial"))
      .groupBy(col("source"))
      .agg(merge(collect_list(col("partial"))).as("sketch"))
  }
}

/** Resumable checkpointed build: shard sketches persist to a Parquet
  * checkpoint table carrying Iceberg-shaped lineage columns (partition id,
  * rows consumed, fingerprints consumed, merge depth, params tag, wall
  * time). No Iceberg runtime ships in this offline sandbox, so the store is
  * plain Parquet behind this interface; the commit unit is one batch job
  * (Spark's committer makes each append atomic), and buckets are
  * deterministic functions of row ids, so re-running a lost batch is
  * idempotent.
  */
object CheckpointedBuild {
  final val LineageColumns = Seq("bucket", "sketch", "rows_consumed",
    "fingerprints_consumed", "merge_depth", "params_tag", "committed_at_ms")

  private def paramsTag(p: BqfParams): String =
    s"q${p.qBits}c${p.countBits}h${p.hashBits}m${p.mode.tag}k${p.kTokens}z${p.zTokens}s${p.seed}"

  def committedBuckets(spark: SparkSession, dir: String): Set[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(dir).select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** Build shard sketches for every bucket not yet committed, in batches of
    * `batchBuckets` (each batch = one atomic Parquet append). A killed run
    * resumes by skipping committed buckets.
    */
  def run(df: DataFrame, fpCol: Column, idCol: Column, params: BqfParams,
          nBuckets: Int, dir: String, batchBuckets: Int = 8,
          maxBatches: Int = Int.MaxValue): Unit = {
    val spark = df.sparkSession
    val bqf = SketchAggregators.bqfOverFingerprintArrays(params)
    val done = committedBuckets(spark, dir)
    val missing = (0L until nBuckets.toLong).filterNot(done)
    val tag = paramsTag(params)
    val withBucket = df
      .withColumn("__fps", fpCol)
      .withColumn("bucket", pmod(xxhash64(idCol), lit(nBuckets)))
    missing.grouped(batchBuckets).take(maxBatches).foreach { batch =>
      withBucket
        .filter(col("bucket").isin(batch: _*))
        .groupBy(col("bucket"))
        .agg(
          bqf(col("__fps")).as("sketch"),
          count(lit(1)).as("rows_consumed"),
          sum(size(col("__fps"))).as("fingerprints_consumed"))
        .withColumn("merge_depth", lit(0))
        .withColumn("params_tag", lit(tag))
        .withColumn("committed_at_ms", lit(System.currentTimeMillis()))
        .select(LineageColumns.map(col): _*)
        .write.mode("append").parquet(dir)
    }
  }

  /** Fold the committed shards into the final sketch through
    * [[BqfPipeline.reshardMerge]]: the canonical table at the tight q (with
    * exact counters, the bytes of [[BqfPipeline.buildSharded]]). A bucket
    * committed more than once (a retried or concurrent [[run]]) counts once,
    * from its latest commit; shards committed under other params fail.
    */
  def result(spark: SparkSession, dir: String, params: BqfParams): Array[Byte] = {
    val rows = spark.read.parquet(dir)
    val tags = rows.select("params_tag").distinct().collect().map(_.getString(0))
    require(tags.forall(_ == paramsTag(params)),
      s"checkpoint $dir holds shards built with ${tags.mkString(", ")}, not ${paramsTag(params)}")
    BqfPipeline.foldToOne(rows.groupBy("bucket")
      .agg(max_by(col("sketch"), col("committed_at_ms")).as("sketch")), params)
  }
}
