package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators._

/** The two query boards: a fixed list of the engine's declared queries,
  * run once each in sorted name order by one closed-loop client. Each
  * query is timed in three parts from outside the engine: construction
  * (the query function, including eager checkpoints and view
  * registration), planning (`executedPlan`) and execution (collecting
  * the planned physical plan's result). Execution collects instead of
  * writing to a noop sink because the write re-plans the query inside
  * the timed execution and would need a second execution to check the
  * result; board results are at most a few thousand rows. The collected
  * rows are checked against a committed fingerprint. */
object Board {
  type Query = (SparkSession, String) => DataFrame

  /** Every module's declared queries; a query belongs to the module whose
    * `queries` map holds it. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "ChunkCatalog" -> ChunkCatalog.queries,
    "Relational" -> Relational.queries,
    "ScalarFns" -> ScalarFns.queries,
    "Windows" -> Windows.queries,
    "SqlQueries" -> SqlQueries.queries,
    "Formats" -> graft.sources.Formats.queries,
    "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries,
    "GraphOps" -> GraphOps.queries,
    "Multimodal" -> Multimodal.queries)

  /** Board lists. A full pass over all 199 queries takes ~90 s on a
    * 4-core host, so each board is a fixed sample of its modules' queries
    * (every module represented), plus the queries that
    * read a set-up layout (layout_zorder, llm_ann_trained, llm_ann_pq,
    * llm_semdedup_trained, llm_dedup_cc) and the known single-task or
    * iterative hot spots (skew_salted_join, sql_q1, agg_bootstrap,
    * agg_grouping_sets, llm_kmeans, llm_bpe_corpus, graph_pagerank). The
    * lists are fixed so that a query added to the engine does not change
    * what an existing board measures. */
  val boards: Map[String, Seq[String]] = Map(
    "board-relational" -> Seq(
      "agg_bootstrap", "agg_grouping_sets", "chunk_compact", "fn_json", "layout_zorder",
      "skew_salted_join", "sql_q1", "stream_session"),
    "board-llm" -> Seq(
      "graph_pagerank", "llm_ann_pq", "llm_ann_trained", "llm_bpe_corpus", "llm_dedup_cc",
      "llm_frames", "llm_kmeans", "llm_semdedup_trained", "llm_text_stats"))

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }
      .getOrElse(sys.error(s"query $name is not declared by any module"))

  def queryFn(name: String): Query = modules.collectFirst {
    case (_, qs) if qs.contains(name) => qs(name)
  }.get

  // ---- result fingerprints -------------------------------------------

  /** Canonical text of one value. Doubles keep 12 significant digits so
    * that a different summation order cannot change a fingerprint while
    * any real change of a value does. */
  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite || d == 0.0) d.abs.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row count plus an order-insensitive 64-bit hash of the rows. */
  def fingerprint(rows: Array[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = canon(r)
      acc + ((MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0xbead).toLong & 0xffffffffL))
    }
    f"${rows.length}:$sum%016x"
  }

  def fingerprintFile(root: File): File = new File(root, "perfbench/fingerprints.json")

  def readFingerprints(root: File): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = Json.read(fingerprintFile(root)).get("queries")
    node.fieldNames().asScala.map(n => n -> node.get(n).asText()).toMap
  }

  /** Writes the fingerprints of every board's queries and of the query
    * the self-check corrupts. */
  def writeFingerprints(r: Run, root: File, corpusName: String): Unit = {
    val fps = (boards.values.flatten.toSeq :+ SelfCheckBase).distinct.sorted.flatMap { n =>
      val fp = r.attempt(n)(fingerprint(queryFn(n)(r.spark, r.corpus).collect()))(_ => None)
      r.quiesce()
      fp.map(n -> _)
    }
    Files.write(fingerprintFile(root).toPath, (Json.pretty(Json.obj(
      "corpus" -> corpusName, "queries" -> Json.obj(fps: _*))) + "\n").getBytes(UTF_8))
  }

  // ---- the timed pass ---------------------------------------------------

  final case class Timing(module: String, name: String, buildMs: Double, planMs: Double,
      execMs: Double) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  /** The query whose result the self-check truncates. */
  val SelfCheckBase = "chunk_list"

  /** Queries the self-check adds to a board: one that throws and one
    * whose result differs from its recorded fingerprint. */
  def injected(expected: Map[String, String]): Seq[(String, Query, String)] = Seq(
    ("selfcheck_throw",
      (_: SparkSession, _: String) => throw new IllegalStateException("injected failure"),
      "none"),
    ("selfcheck_wrong",
      (s: SparkSession, d: String) => queryFn(SelfCheckBase)(s, d).limit(1),
      expected(SelfCheckBase)))

  final case class Planned(name: String, module: String, fn: Query, fingerprint: String)

  /** The board's queries in sorted name order, with the self-check's
    * injected queries appended when asked for. */
  def planned(root: File, board: String, injectFaults: Boolean): Seq[Planned] = {
    val expected = readFingerprints(root)
    boards(board).sorted.map(n => Planned(n, moduleOf(n), queryFn(n), expected(n))) ++
      (if (injectFaults) injected(expected).map { case (n, f, fp) => Planned(n, "SelfCheck", f, fp) }
       else Nil)
  }

  /** One pass: each query once, each result checked; fills the board's
    * end-to-end metrics. */
  def run(r: Run, qs: Seq[Planned]): Seq[Timing] = {
    val timings = qs.map { q =>
      val t = Array.fill(4)(0L)
      r.attempt(q.name) {
        r.tracer.span(s"query:${q.name}") {
          t(0) = System.nanoTime()
          val df = r.tracer.span("build", s"${q.module}.build")(q.fn(r.spark, r.corpus))
          t(1) = System.nanoTime()
          r.tracer.span("plan", s"${q.module}.plan")(df.queryExecution.executedPlan)
          t(2) = System.nanoTime()
          val rows = r.tracer.span("exec", s"${q.module}.exec")(df.collect())
          t(3) = System.nanoTime()
          fingerprint(rows)
        }
      } { got =>
        if (got == q.fingerprint) None else Some(s"fingerprint $got, expected ${q.fingerprint}")
      }
      r.quiesce()
      // a query that failed part-way is charged the time it ran
      val now = System.nanoTime()
      val ends = t.indices.map(i => if (t(i) > 0) t(i) else if (t(0) > 0) now else 0L)
      Timing(q.module, q.name, Stats.ms(ends(0), ends(1)), Stats.ms(ends(1), ends(2)),
        Stats.ms(ends(2), ends(3)))
    }
    val totals = timings.map(_.totalMs / 1000)
    r.e2e("board_s", totals.sum, "s")
    r.e2e("query_p50_s", Stats.median(totals), "s")
    r.e2e("query_p90_s", Stats.quantile(totals, 0.9), "s")
    timings
  }

  /** Per-module layer metrics from the pass's timings and the listener's
    * task totals (every module is reported; one the board does not run
    * reads 0). */
  def layerMetrics(r: Run, timings: Seq[Timing]): Unit =
    modules.map(_._1).foreach { m =>
      val ts = timings.filter(_.module == m)
      val all = r.tracer.layers.sum(_.startsWith(m + "."))
      val exec = r.tracer.layers.sum(_ == m + ".exec")
      val execMs = ts.map(_.execMs).sum
      r.layer(s"$m.build_ms", ts.map(_.buildMs).sum, "ms")
      r.layer(s"$m.plan_ms", ts.map(_.planMs).sum, "ms")
      r.layer(s"$m.exec_ms", execMs, "ms")
      r.layer(s"$m.jobs", all.jobs.toDouble, "count")
      r.layer(s"$m.task_cpu_ms", all.cpuNs / 1e6, "ms")
      r.layer(s"$m.util", if (execMs > 0) exec.cpuNs / 1e6 / (execMs * r.cores) else 0.0,
        "ratio")
      r.layer(s"$m.shuffle_mb", all.shuffleBytes / 1e6, "MB")
      r.layer(s"$m.spill_mb", all.spillBytes / 1e6, "MB")
    }
}
