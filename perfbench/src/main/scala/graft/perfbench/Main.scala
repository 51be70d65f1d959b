package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Runs one workload and prints its result:
  *
  * {{{
  * Main --workload <serve-read|serve-fleet|ingest-churn> --seed <n>
  *      --seconds <s> --trace <0|1> --out <dir> --work <dir>
  * }}}
  *
  * Human-readable lines come first; the last line of standard output is
  * the JSON result. `--out` receives the run record (and, when tracing,
  * the span file); `--work` is scratch space for the index files. */
object Main {

  val Workloads = Seq("serve-read", "serve-fleet", "ingest-churn")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: String, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      }, get("out"), get("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val status =
      try { runAndReport(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark and client threads must not keep the JVM alive
    sys.exit(status)
  }

  private def runAndReport(a: Args): Unit = {
    val run = new Run(a.workload, a.seed, a.seconds, a.trace)
    val started = System.currentTimeMillis()
    a.workload match {
      case "serve-read" => ServeRead.run(run)
      case "ingest-churn" => IngestChurn.run(run)
      case "serve-fleet" => ServeFleet.run(run, a.work)
    }
    val spans = run.tracer.spans
    if (a.trace) run.detail("trace.spans") = (spans.size.toDouble, "count")

    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-$started"
    Files.createDirectories(Paths.get(a.out))
    val context = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds),
      "trace" -> a.trace.toString,
      "started_ms" -> started.toString,
      "nproc" -> Serve.nproc.toString,
      "java_version" -> Json.str(System.getProperty("java.version")),
      "java_vm" -> Json.str(System.getProperty("java.vm.name")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "git_commit" -> Json.strOrNull(System.getProperty("perfbench.commit")),
      "source_sha256" -> Json.strOrNull(System.getProperty("perfbench.sources"))))
    if (a.trace) {
      val selfNs = Tracer.selfNanos(spans)
      val lines = spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "request" -> s.request.toString,
          "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
          "start_ns" -> s.start.toString, "end_ns" -> s.end.toString, "self_ns" -> selfNs(s.id).toString))
      }
      Files.write(Paths.get(a.out, s"$tag-spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Tracer.selfByLayer(spans).toSeq.sortBy(-_._2).foreach { case (l, ns) =>
        run.detail(s"self_s.$l") = (ns / 1e9, "s")
      }
    }
    val reported = if (a.trace) run.layer else run.e2e
    val correct = run.failed == 0
    val record = Json.obj(Seq(
      "context" -> context,
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "failures" -> Json.arr(run.failureMessages.map(Json.str)),
      "end_to_end" -> Json.metrics(run.e2e.toSeq),
      "per_layer" -> Json.metrics(run.layer.toSeq),
      "workload_detail" -> Json.metrics(run.detail.toSeq)))
    Files.write(Paths.get(a.out, s"$tag.json"), (record + "\n").getBytes(StandardCharsets.UTF_8))

    println(s"context $context")
    println(s"record ${Paths.get(a.out, s"$tag.json")}")
    run.failureMessages.foreach(m => println(s"FAILED $m"))
    Seq("end_to_end" -> run.e2e, "per_layer" -> run.layer, "detail" -> run.detail).foreach { case (section, ms) =>
      ms.foreach { case (k, (v, u)) => println(f"$section%-10s $k%-34s $v%14.6f $u") }
    }
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.metrics(reported.toSeq))))
  }
}

/** The little JSON the benchmark writes. Non-finite numbers become null. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def strOrNull(s: String): String = if (s == null || s.isEmpty) "null" else str(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kvs: Seq[(String, String)]): String = kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
