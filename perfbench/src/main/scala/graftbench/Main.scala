package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run measured and checked. `e2e` holds end-to-end
  * metrics, `layers` per-layer metrics (filled only by traced runs).
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    extra: Map[String, Any] = Map.empty)

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: Path, work: Path, out: Path, spans: Path, sessionS: Double)

/** Benchmark harness entry point, started by `perfbench/run.py`:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --spans FILE`.
  */
object Main {
  val Cores = math.min(4, Runtime.getRuntime.availableProcessors)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val args = Args(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble, trace = kv("trace") == "1",
      data = Paths.get(kv("data")).toAbsolutePath,
      work = work, out = Paths.get(kv("out")).toAbsolutePath,
      spans = Paths.get(kv("spans")).toAbsolutePath,
      sessionS = (System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer(spark, args.trace)
    val (steal0, total0) = Stats.cpuTicks()
    val outcome =
      try args.workload match {
        case "registry" => Registry.run(spark, tracer, args)
        case "tail" => Tail.run(spark, tracer, args)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally tracer.close()
    val rss = Stats.peakRssMb()
    val (steal1, total1) = Stats.cpuTicks()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    val json = Json.obj(
      "workload" -> args.workload,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "checks" -> outcome.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "end_to_end" -> outcome.e2e,
      "per_layer" -> (if (!args.trace) Map.empty
        else outcome.layers ++ Map("jvm.peak_rss_mb" -> rss, "host.steal_pct" -> stealPct)),
      "extra" -> (outcome.extra ++ Map("peak_rss_mb" -> rss, "host_steal_pct" -> stealPct)))
    Files.createDirectories(args.out.getParent)
    Files.writeString(args.out, json + "\n")
    spark.stop()
  }
}
