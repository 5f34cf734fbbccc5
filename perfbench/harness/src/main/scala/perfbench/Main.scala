package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one run of one workload.
  *
  * {{{
  * perfbench.Main --workload <serve_intervalo|registry>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--data <sf dir>] [--registry <file>] [--record]
  * }}}
  *
  * Writes one JSON object to `--out`: the check totals, the end-to-end
  * metrics of the untraced phase and, with `--trace 1`, the per-layer
  * metrics of the traced phases. `perfbench/run.py` builds the classpath,
  * launches this and prints the result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val record = args.contains("--record")
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    val probe = new Probe(spark, traced)
    val checks = new Checks
    val ctx = new Ctx(spark, probe, checks, opts("seed").toLong,
      opts("seconds").toDouble, cpus, work,
      Paths.get(opts.getOrElse("data", ".")).toAbsolutePath,
      Paths.get(opts.getOrElse("registry", "registry.json")).toAbsolutePath,
      record, sessionS)
    val outcome =
      try workload match {
        case "serve_intervalo" => Serve.run(ctx)
        case "registry" => Registry.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch { case t: Throwable =>
        t.printStackTrace()
        val _ = checks(false, s"run aborted: $t")
        Outcome(Map.empty, Map.empty)
      }
    val layers =
      if (!traced) Map.empty[String, Double]
      else outcome.layers ++ Map(
        "codegen.compile_n" -> Jvm.compileN.toDouble,
        "codegen.compile_ms" -> Jvm.compileMs,
        "jvm.jit_ms" -> Jvm.jitMs.toDouble,
        "jvm.gc_ms" -> Jvm.gcMs.toDouble,
        "jvm.cpu_s" -> Jvm.cpuS,
        "jvm.live_heap_mb" -> Jvm.liveHeapMb,
        "trace.spans" -> probe.tracer.all.size.toDouble)
    if (traced) probe.tracer.write(work.resolve("spans.jsonl"))
    write(out, checks, outcome.e2e, layers, outcome.samples)
    spark.stop()
  }

  /** A `local[cpus]` session with the confs of `graft.Bench`'s session,
    * the graph edge cache off, and every file it writes under `work`.
    */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "10000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(graft.queries.GraphQueries.CacheEdgesKey, "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def write(out: Path, checks: Checks, e2e: Map[String, Double],
                    layers: Map[String, Double], samples: Seq[Double]): Unit = {
    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString) }
      .mkString("{", ",", "}")
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = s"""{"attempted":${checks.attempted},"failed":${checks.failed},""" +
      s""""errors":${checks.errors.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""latencies_ms":${samples.map(v => f"$v%.3f").mkString("[", ",", "]")}}"""
    val _ = Files.write(out, json.getBytes(UTF_8))
  }
}
