package graft.operators

import graft.core.BackpackFilter
import org.apache.spark.sql.SparkSession

/** Executor-side lazily-deserialized view of a serialized sketch: the bytes
  * broadcast once per job; each executor JVM materializes the filter on
  * first use (mirrors the reference's load-then-query flow,
  * /root/reference/src/main.cpp:145-173, with a broadcast instead of a file).
  */
final class SketchRef(val bytes: Array[Byte]) extends Serializable {
  @transient lazy val filter: BackpackFilter = BackpackFilter.deserialize(bytes)
}

/** Broadcast-sketch query surface: membership, abundance and Fimpera
  * sequence statistics against a completed build, as native Catalyst
  * expressions ([[abundanceOf]]/[[containsOf]]/[[sequenceStatsOf]]) —
  * abundance/membership stay inside whole-stage codegen.
  */
final class BqfQuery(spark: SparkSession, sketchBytes: Array[Byte]) extends Serializable {
  private val bc = spark.sparkContext.broadcast(new SketchRef(sketchBytes))

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Abundance of a fingerprint column (codegen expression). */
  def abundanceOf(fp: Column): Column =
    ColumnBridge.column(BqfAbundanceExpr(ColumnBridge.expression(fp), bc))

  /** Membership of a fingerprint column (codegen expression). */
  def containsOf(fp: Column): Column =
    ColumnBridge.column(BqfContainsExpr(ColumnBridge.expression(fp), bc))

  /** Fimpera sequence stats of a tokens array column (struct-typed). */
  def sequenceStatsOf(tokens: Column): Column =
    ColumnBridge.column(BqfSequenceStatsExpr(ColumnBridge.expression(tokens), bc))

  def filter: BackpackFilter = bc.value.filter

  /** Sketch contents as a DataFrame(fingerprint, abundance) — the enumerate
    * operator exposed relationally (explode-style). The entries stream out
    * of an executor task via the broadcast (nothing is materialized on the
    * driver); for a sharded index use [[graft.plans.BqfPipeline.enumerateIndex]],
    * which parallelizes across shards.
    */
  def enumerateDF(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val b = bc
    spark.range(0, 1, 1, 1).flatMap(_ => b.value.filter.entries())
      .toDF("fingerprint", "abundance")
  }

  def unpersist(): Unit = bc.unpersist()
}
