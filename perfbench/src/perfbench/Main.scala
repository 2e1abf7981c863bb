package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-run state shared by the workloads: session, tracer, checks, metrics. */
final class Ctx(val spark: SparkSession, val workload: String, val work: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val toy: Boolean, val perturb: Boolean,
                val cores: Int) {
  val tracer = new Tracer(spark.sparkContext, s"$workload-seed$seed-${System.nanoTime()}")
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def span[T](layerName: String, name: String)(body: => T): T = tracer.span(layerName, name)(body)

  def path(rel: String): String = s"$work/$rel"

  /** One correctness check: counts towards `attempted`, and towards
    * `failed` when it does not hold.
    */
  def expect(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
      System.err.println(s"CHECK FAILED: $what")
    }
  }

  /** The expected value a check compares against; +1 when the run was asked
    * to perturb expectations (proves the checks can fail).
    */
  def expected(v: Long): Long = if (perturb) v + 1 else v
}

object Main {
  private def jsonNum(name: String, d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric $name is $d")
    java.lang.Double.toString(d)
  }

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0 = System.nanoTime()
    System.err.println(f"perfbench: JVM up after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    val cores = o("cores").toInt
    val work = o("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o("workload")}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"perfbench: session up after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // Cli verbs share this session instead of stopping it
    System.setProperty("graft.cli.keepSession", "true")
    val c = new Ctx(spark, o("workload"), work, o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o.getOrElse("toy", "0") == "1", o.getOrElse("perturb", "0") == "1", cores)
    val w: Workload = c.workload match {
      case "build" => new BuildWorkload(c)
      case "probe" => new ProbeWorkload(c)
      case other => sys.error(s"unknown workload $other")
    }
    w.execute()
    val metrics = if (c.trace) c.layer else c.endToEnd
    val json =
      s"""{"attempted":${c.attempted},"failed":${c.failed},""" +
        s""""failures":[${c.failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString(",")}],""" +
        s""""metrics":{${metrics.map { case (k, v) => s""""$k":${jsonNum(k, v)}""" }.mkString(",")}},""" +
        s""""catalog_check":${w.catalogCheck.map(p => "\"" + p + "\"").getOrElse("null")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), json)
    if (c.trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/${c.workload}-seed${c.seed}-spans.json"), c.tracer.json)
    spark.stop()
  }
}
