package perfbench

import org.apache.spark.sql.SaveMode

/** The `SparkEntry.queries` entries that answer through the BQF read path
  * (broadcast sketch, sketch file, sharded index), run by the probe
  * workload's traced run over a seeded documents table. Each entry runs in
  * a fresh session over a fresh copy of the table, so neither the session
  * caches nor the JVM-wide sketch cache carry over, and is forced with
  * `count()`. Its result is then written for the runner's DuckDB replay of
  * the entry's `SparkEntry.oracleSql`.
  */
object CatalogSlice {
  val Entries: Seq[String] = Seq(
    "q01_bqf_abundance", "q03_bqf_membership", "q23_enumerate_index", "q29_sketch_persist",
    "q30_index_query")

  def run(c: Ctx): String = {
    import c.spark.implicits._
    val tables = c.path("catalog/tables")
    val seed = c.seed
    c.span("sources", "documents") {
      c.spark.range(0, if (c.toy) 100L else 500L, 1, 1).map(i => Inputs.document(seed, i))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode(SaveMode.Overwrite).parquet(s"$tables/documents.parquet")
    }
    Entries.foreach { e =>
      val dir = c.path(s"catalog/$e")
      copyTree(tables, dir)
      val session = c.spark.newSession()
      val t = Stats.seconds(c.span("queries", e)(graft.SparkEntry.queries(e)(session, dir).count()))
      c.layer(s"queries.${e}_s") = t
      c.layer(s"queries.${e}_jobs") = c.tracer.subtreeWork(c.tracer.named("queries", e)).jobs
    }
    val out = c.path("catalog/check")
    val session = c.spark.newSession()
    val items = Entries.map { e =>
      graft.SparkEntry.queries(e)(session, tables).write.mode(SaveMode.Overwrite).parquet(s"$out/$e")
      val sql = graft.SparkEntry.oracleSql(e).replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s""""$e":{"result":"$out/$e","sql":"$sql"}"""
    }
    val manifest = s"$out/manifest.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(manifest),
      s"""{"documents":"$tables/documents.parquet","perturb":${c.perturb},"entries":{${items.mkString(",")}}}""")
    manifest
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).forEach { p =>
      val d = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
