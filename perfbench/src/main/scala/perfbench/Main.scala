package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.operators.{GraphOps, VectorOps}
import graft.sources.Formats

/** One benchmark run of one workload in one JVM.
  *
  * Usage (from the checkout root, normally through perfbench/run.py):
  *   perfbench.Main --workload <board-relational|board-llm> --seed <n>
  *     --seconds <s> --trace <0|1> [--inject-faults]
  *   perfbench.Main --write-fingerprints
  *
  * A run sets up (session, the workload's layout builds and a warm-up
  * query), makes one pass over the workload's query board, then runs the
  * catalog-ingest loop and the event stream's open-loop step for fixed
  * shares of `--seconds`, and the stream's capacity bursts. The
  * last line of stdout is the result object; the full record (host
  * fingerprint, failures, per-query timings, spans) goes to
  * .bench_out/. The exit code is non-zero if any operation failed or
  * returned a wrong answer. */
object Main {
  val Workloads = Seq("board-relational", "board-llm")
  val CorpusName = "sf0.01"
  val IngestShare = 0.3
  val StreamShare = 0.7

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, injectFaults: Boolean = false, writeFingerprints: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Either[String, Opts] = args match {
    case Nil => Right(o)
    case "--workload" :: w :: rest => parse(rest, o.copy(workload = w))
    case "--seed" :: n :: rest if Try(n.toLong).isSuccess => parse(rest, o.copy(seed = n.toLong))
    case "--seconds" :: n :: rest if Try(n.toDouble).toOption.exists(_ > 0) =>
      parse(rest, o.copy(seconds = n.toDouble))
    case "--trace" :: t :: rest if t == "0" || t == "1" => parse(rest, o.copy(trace = t == "1"))
    case "--inject-faults" :: rest => parse(rest, o.copy(injectFaults = true))
    case "--write-fingerprints" :: rest => parse(rest, o.copy(writeFingerprints = true))
    case a :: _ => Left(s"unexpected argument '$a'")
  }

  private def read(path: String): String = Try(new String(Files.readAllBytes(new File(path).toPath),
    UTF_8)).getOrElse("")

  private def field(text: String, key: String): String =
    text.linesIterator.find(_.startsWith(key)).map(_.split(":", 2)(1).trim).getOrElse("unknown")

  /** What a result is only comparable under: the host and the engine
    * configuration. `perfbench/compare.py` refuses a baseline whose
    * fingerprint differs. */
  def hostFingerprint(cores: Int, partitions: Int, codec: String): Seq[(String, Any)] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Seq(
      "nproc" -> cores,
      "mem_total" -> field(read("/proc/meminfo"), "MemTotal"),
      "cpu_model" -> field(read("/proc/cpuinfo"), "model name"),
      "xmx" -> rt.getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xmx"))
        .lastOption.getOrElse("default"),
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> partitions,
      "codec" -> codec,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList) match {
      case Right(o) if o.writeFingerprints || Workloads.contains(o.workload) => o
      case Right(o) =>
        System.err.println(s"perfbench: unknown workload '${o.workload}' (${Workloads.mkString(", ")})")
        sys.exit(2)
      case Left(why) =>
        System.err.println(s"perfbench: $why")
        sys.exit(2)
    }
    val root = new File(".").getCanonicalFile
    val corpus = new File(root, s"perfbench/corpus/$CorpusName")
    if (!new File(corpus, "lineitem.parquet").exists()) {
      System.err.println(s"perfbench: corpus missing at $corpus")
      sys.exit(2)
    }
    // per-run scratch: layout caches, warehouse, spill and catalogs all
    // start empty, so set-up never depends on an earlier run
    val tag = s"${if (opts.writeFingerprints) "fingerprints" else opts.workload}" +
      s"-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    val scratch = new File(root, s".bench_run/$tag-${ProcessHandle.current().pid()}")
    scratch.mkdirs()
    System.setProperty("graft.build.root", new File(scratch, "build").getPath)

    val cores = Runtime.getRuntime.availableProcessors
    val partitions = graft.Bench.scaledShufflePartitions(corpus.getPath, cores)
    val codec = graft.Bench.scaledCodec(corpus.getPath)
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.io.compression.codec", codec)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.local.dir", new File(scratch, "local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Stats.ms(s0, System.nanoTime())
    val tracer = new Tracer(spark, opts.trace)
    tracer.enable(true)
    val r = new Run(spark, corpus.getPath, scratch, cores, opts.seed, tracer)
    val code = try {
      if (opts.writeFingerprints) {
        Board.writeFingerprints(r, root, CorpusName)
        r.failures.foreach { case (n, why) => System.err.println(s"perfbench: $n failed: $why") }
        if (r.failures.isEmpty) 0 else 1
      } else measure(r, root, opts, sessionMs, partitions, codec)
    } finally {
      Try(spark.stop())
      deleteTree(scratch)
    }
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  private def measure(r: Run, root: File, opts: Opts, sessionMs: Double, partitions: Int,
      codec: String): Int = {
    val layouts: Seq[(String, () => Any)] =
      if (opts.workload == "board-llm") Seq(
        "VectorOps.ensureTrainedLayout" -> (() => VectorOps.ensureTrainedLayout(r.spark, r.corpus)),
        "VectorOps.ensureSemDedupLayout" -> (() => VectorOps.ensureSemDedupLayout(r.spark, r.corpus)),
        "VectorOps.ensurePqLayout" -> (() => VectorOps.ensurePqLayout(r.spark, r.corpus)),
        "GraphOps.ensureClusterLayout" -> (() => GraphOps.ensureClusterLayout(r.spark, r.corpus)))
      else Seq("Formats.ensureZLayout" -> (() => Formats.ensureZLayout(r.spark, r.corpus)))
    val layoutMs = layouts.map { case (name, build) =>
      val t0 = System.nanoTime()
      r.attempt(name)(r.tracer.span(name, "setup")(build()))(_ => None)
      r.quiesce()
      name -> Stats.ms(t0, System.nanoTime())
    }.toMap
    // the JVM's first job happens here, not in the first timed query
    r.tracer.span("warm-up", "setup")(r.spark.range(1000).selectExpr("sum(id)").collect())
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    r.e2e("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    r.layer("spark.session_ms", sessionMs, "ms")
    Seq("VectorOps.ensureTrainedLayout", "VectorOps.ensureSemDedupLayout",
      "VectorOps.ensurePqLayout", "GraphOps.ensureClusterLayout", "Formats.ensureZLayout")
      .foreach(n => r.layer(s"${n}_ms", layoutMs.getOrElse(n, 0.0), "ms"))

    def phase[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally System.err.println(f"perfbench: phase $name took ${Stats.ms(t0, System.nanoTime()) / 1000}%.1f s")
    }
    System.err.println(f"perfbench: set-up took ${r.endToEnd("setup_s")._1}%.1f s")
    val timings = phase("board")(
      Board.run(r, Board.planned(root, opts.workload, opts.injectFaults)))
    // the last query's task and job ends reach the listener before its totals are read
    r.tracer.drain()
    Board.layerMetrics(r, timings)
    phase("catalog-ingest")(CatalogLoop.run(r, opts.seconds * IngestShare))
    phase("stream-events")(StreamLoop.run(r, opts.seconds * StreamShare))

    // the heap is fixed and pre-touched, so VmHWM holds all 3 GB of it in
    // every run; the program's own figure is the peak outside the heap
    val hwmMb = Try(field(read("/proc/self/status"), "VmHWM").split("\\s+")(0).toDouble / 1024)
      .getOrElse(0.0)
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    r.e2e("peak_rss_mb", hwmMb - heapMb, "MB")
    // on-heap work (sort, aggregation and shuffle buffers) shows as collector time
    r.layer("jvm.gc_ms", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble, "ms")
    val errorRate = r.failures.size.toDouble / r.attempted
    r.tracer.drain()
    r.layer("plan.query_executions", r.tracer.plans.ok.get().toDouble, "count")
    r.layer("plan.failed_executions", r.tracer.plans.failed.get().toDouble, "count")

    val metrics = if (opts.trace) r.perLayer else r.endToEnd
    metrics.foreach { case (n, (v, u)) => println(f"perfbench: $n%-36s $v%14.4f $u") }
    println(f"perfbench: error_rate ${errorRate}%.4f (${r.failures.size} of ${r.attempted} operations)")
    r.failures.foreach { case (n, why) => println(s"perfbench: FAILED $n: $why") }

    val detail = Json.write(Json.obj(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "corpus" -> CorpusName,
      "cache_state" -> "cold: empty per-run build root, warehouse, spill dir and catalogs",
      "host" -> Json.obj(hostFingerprint(r.cores, partitions, codec) ++ Seq(
        "source_sha256" -> sys.props.getOrElse("perfbench.source", "unknown"),
        "git_sha" -> graft.Meta.git("rev-parse", "HEAD").getOrElse("none"),
        "tree" -> graft.Meta.git("status", "--porcelain", "--untracked-files=no")
          .map(s => if (s.isEmpty) "clean" else "dirty").getOrElse("not a git checkout")): _*),
      "attempted" -> r.attempted, "failed" -> r.failures.size, "error_rate" -> errorRate,
      "failures" -> r.failures.map { case (n, why) => Json.obj("op" -> n, "reason" -> why) },
      "metrics" -> Json.obj(r.endToEnd.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> Json.obj(r.perLayer.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "queries" -> timings.map(t => Json.obj("name" -> t.name, "module" -> t.module,
        "build_ms" -> t.buildMs, "plan_ms" -> t.planMs, "exec_ms" -> t.execMs)),
      "self_time_ms" -> Json.obj(r.tracer.selfTimeMs.toSeq.sortBy(_._1): _*)))
    val out = new File(root, ".bench_out")
    out.mkdirs()
    val tag = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    Files.write(new File(out, s"$tag.json").toPath, detail.getBytes(UTF_8))
    if (opts.trace)
      Files.write(new File(out, s"$tag-spans.json").toPath, Json.write(r.tracer.recorded.map(s =>
        Json.obj("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))).getBytes(UTF_8))

    println(Json.write(Json.obj(
      "correct" -> r.failures.isEmpty,
      "attempted" -> r.attempted,
      "failed" -> r.failures.size,
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    if (r.failures.isEmpty) 0 else 1
  }
}
