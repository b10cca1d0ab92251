package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.sources.Ingest

/** The reference worker's life against a fresh catalog, as a closed loop
  * with one client: text chunk batches go through
  * `Ingest.decodeWithQuarantine` and `Ingest.ingest`, interleaved with
  * `Ingest.findChunk` point lookups skewed toward recent blocks, periodic
  * `deleteChunk` and `compact`. The loop runs whole episodes (a fresh
  * catalog each) until its time share is spent, so every ratio it
  * reports is independent of how many episodes fit. */
object CatalogLoop {
  final case class Chunk(id: String, dataset: Long, start: Long, end: Long, size: Long) {
    def line: String = s"$id,$dataset,$start,$end,$size"
  }

  val Datasets = 4
  val BatchesPerEpisode = 3
  val FreshPerBatch = 30
  val FindsPerBatch = 10
  val DeletesPerBatch = 3
  /** Quota: far above what the normal batches admit; the one over-quota
    * batch per episode carries a chunk larger than the whole cap. */
  val Quota = 1000000000L

  /** Generator model of one episode: what the catalog must hold. */
  private final class Model(rng: Random, episode: Int) {
    val live = mutable.LinkedHashMap.empty[String, Chunk]
    val cursor = Array.fill(Datasets)(rng.nextInt(1000).toLong)
    private var serial = 0
    def fresh(): Chunk = {
      val ds = rng.nextInt(Datasets)
      val start = cursor(ds)
      val len = 20L + rng.nextInt(200)
      cursor(ds) += len
      serial += 1
      Chunk(f"e$episode%03d-c$serial%05d-${rng.nextInt(1 << 20)}%05x", ds.toLong, start, start + len,
        1000L + rng.nextInt(100000))
    }
    def covering(ds: Long, block: Long): Set[String] =
      live.values.filter(c => c.dataset == ds && c.start <= block && block < c.end).map(_.id).toSet
  }

  private def malformed(rng: Random, c: Chunk): String = rng.nextInt(5) match {
    case 0 => s"${c.id},${c.dataset},${c.start}"                  // wrong arity
    case 1 => s"${c.id},ds${c.dataset},${c.start},${c.end},${c.size}" // bad dataset id
    case 2 => s"${c.id},${c.dataset},${c.end},${c.start},${c.size}"  // inverted range
    case 3 => s"${c.id},${c.dataset},${c.start},${c.end},-${c.size}" // negative size
    case _ => s",${c.dataset},${c.start},${c.end},${c.size}"        // empty id
  }

  private def filesUnder(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val out = mutable.Map.empty[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        else out(f.getPath) = f.length()
      walk(dir)
      out.toMap
    }

  def run(r: Run, budgetS: Double): Unit = {
    import r.spark.implicits._
    val decodeMs, ingestMs, findMs, deleteMs, compactMs = mutable.ArrayBuffer.empty[Double]
    var linesOffered, linesDeduped, linesQuarantined, bytesAdmitted, bytesWritten = 0L
    var rejected, episodes, filesAtEnd = 0L
    var ingestCalls = 0L
    var lastCatalog = ""
    val t0 = System.nanoTime()
    while (episodes == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val rng = new Random(r.seed * 1000003L + episodes)
      val model = new Model(rng, episodes.toInt)
      val catalog = new File(r.dir("catalog"), s"episode-$episodes")
      val path = catalog.getPath
      lastCatalog = path
      var seen = filesUnder(catalog)
      def accountWrites(): Unit = {
        val now = filesUnder(catalog)
        bytesWritten += now.collect { case (p, n) if !seen.contains(p) => n }.sum
        seen = now
      }
      // the over-quota batch sits at a fixed position, so every seed
      // rewrites a catalog of the same shape
      val overQuota = BatchesPerEpisode / 2
      for (b <- 0 until BatchesPerEpisode) {
        val fresh = Seq.fill(FreshPerBatch)(model.fresh())
        val replays = rng.shuffle(model.live.values.toSeq).take(3) :+ fresh.head
        val bad = Seq.fill(2)(malformed(rng, model.fresh()))
        val huge = if (b == overQuota) Seq(model.fresh().copy(size = 2 * Quota)) else Nil
        val lines = rng.shuffle(fresh.map(_.line) ++ replays.map(_.line) ++ bad ++ huge.map(_.line))
        linesOffered += lines.size
        val op = s"ingest:e$episodes-b$b"
        r.attempt(op) {
          r.tracer.span(op) {
            val d0 = System.nanoTime()
            val decoded = r.tracer.span("decode", "Ingest.decode") {
              val dec = Ingest.decodeWithQuarantine(lines.toDF("line"))
              (dec, dec.quarantined.count())
            }
            val d1 = System.nanoTime()
            val res = r.tracer.span("ingest", "Ingest.ingest")(
              Ingest.ingest(r.spark, path, decoded._1.good, Quota))
            val d2 = System.nanoTime()
            decoded._1.release()
            decodeMs += Stats.ms(d0, d1)
            ingestMs += Stats.ms(d1, d2)
            ingestCalls += 1
            (decoded._2, res)
          }
        } { case (quarantined, res) =>
          linesQuarantined += quarantined
          linesDeduped += res.deduped
          val admitted = b != overQuota
          if (!admitted) rejected += res.rejected.size
          val wantIngested = if (admitted) fresh.size.toLong else 0L
          if (quarantined != bad.size) Some(s"quarantined $quarantined lines, expected ${bad.size}")
          else if (res.rejected.isDefined != !admitted)
            Some(s"quota verdict ${res.rejected}, expected rejected=${!admitted}")
          else if (res.ingested != wantIngested)
            Some(s"ingested ${res.ingested}, expected $wantIngested")
          else None
        }
        if (b != overQuota) {
          fresh.foreach(c => model.live(c.id) = c)
          bytesAdmitted += fresh.map(_.line.length + 1L).sum
        }
        accountWrites()
        // point lookups skewed toward recent blocks, plus one
        // read-your-write lookup of a chunk this batch acknowledged
        val probes = Seq.fill(FindsPerBatch - 1) {
          val ds = rng.nextInt(Datasets).toLong
          val back = (rng.nextDouble() * rng.nextDouble() * 3000).toLong
          (ds, math.max(0L, model.cursor(ds.toInt) - 1 - back))
        } ++ (if (b != overQuota) Seq((fresh.last.dataset, fresh.last.start)) else Nil)
        probes.foreach { case (ds, block) =>
          val want = model.covering(ds, block)
          r.attempt(s"find:$ds@$block") {
            r.tracer.span("find", "Ingest.find") {
              val f0 = System.nanoTime()
              val got = Ingest.findChunk(r.spark, path, ds.toString, block)
                .select("chunk_id").collect().map(_.getString(0)).toSet
              findMs += Stats.ms(f0, System.nanoTime())
              got
            }
          } { got => if (got == want) None else Some(s"found $got, expected $want") }
        }
        for (_ <- 0 until DeletesPerBatch if model.live.nonEmpty) {
          val victim = model.live.keys.toSeq(rng.nextInt(model.live.size))
          model.live.remove(victim)
          r.attempt(s"delete:$victim") {
            r.tracer.span("delete", "Ingest.delete") {
              val x0 = System.nanoTime()
              val n = Ingest.deleteChunk(r.spark, path, victim)
              deleteMs += Stats.ms(x0, System.nanoTime())
              n
            }
          } { n => if (n == model.live.size) None else Some(s"$n rows remain, expected ${model.live.size}") }
          accountWrites()
        }
        if (b == BatchesPerEpisode - 1) {
          r.attempt(s"compact:e$episodes-b$b") {
            r.tracer.span("compact", "Ingest.compact") {
              val c0 = System.nanoTime()
              val n = Ingest.compact(r.spark, path)
              compactMs += Stats.ms(c0, System.nanoTime())
              n
            }
          } { n => if (n == model.live.size) None else Some(s"compacted $n rows, expected ${model.live.size}") }
          accountWrites()
        }
        r.quiesce()
      }
      filesAtEnd += filesUnder(catalog).keys.count(_.endsWith(".parquet"))
      // the final catalog, read fresh, must equal the generator's model
      r.attempt(s"catalog:e$episodes") {
        Ingest.readCatalog(r.spark, path)
          .selectExpr("chunk_id", "CAST(dataset_id AS BIGINT)", "block_start", "block_end",
            "size_bytes")
          .collect().map(x => Chunk(x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
            x.getLong(4))).toSet
      } { got =>
        val want = model.live.values.toSet
        if (got == want) None
        else Some(s"catalog holds ${got.size} chunks (${(got -- want).size} unexpected), " +
          s"model ${want.size} (${(want -- got).size} missing)")
      }
      episodes += 1
    }
    val ingestS = (decodeMs.sum + ingestMs.sum) / 1000
    r.e2e("ingest_rows_per_s", linesOffered / ingestS, "1/s")
    r.e2e("find_p50_ms", Stats.median(findMs.toSeq), "ms")
    r.e2e("find_p95_ms", Stats.quantile(findMs.toSeq, 0.95), "ms")
    r.e2e("delete_p50_ms", Stats.median(deleteMs.toSeq), "ms")
    r.e2e("write_amp", bytesWritten.toDouble / bytesAdmitted, "ratio")

    // the loop's own totals, complete and read before the overhead probe runs
    r.tracer.drain()
    val ingestTags = r.tracer.layers.sum(_.startsWith("Ingest."))
    val ingestJobs = r.tracer.layers.sum(t => t == "Ingest.ingest" || t == "Ingest.decode")
    if (r.tracer.traced) overhead(r, lastCatalog)
    r.layer("Ingest.decode_ms", Stats.median(decodeMs.toSeq), "ms")
    r.layer("Ingest.ingest_ms", Stats.median(ingestMs.toSeq), "ms")
    r.layer("Ingest.find_ms", Stats.median(findMs.toSeq), "ms")
    r.layer("Ingest.delete_ms", Stats.median(deleteMs.toSeq), "ms")
    r.layer("Ingest.compact_ms", Stats.median(compactMs.toSeq), "ms")
    r.layer("Ingest.jobs_per_ingest", ingestJobs.jobs.toDouble / math.max(1L, ingestCalls), "count")
    r.layer("Ingest.task_cpu_ms", ingestTags.cpuNs / 1e6 / episodes, "ms")
    r.layer("Ingest.dedup_ratio", linesDeduped.toDouble / linesOffered, "ratio")
    r.layer("Ingest.quarantine_ratio", linesQuarantined.toDouble / linesOffered, "ratio")
    r.layer("Ingest.rejected_batches", rejected.toDouble / episodes, "count")
    r.layer("Ingest.catalog_files", filesAtEnd.toDouble / episodes, "count")
    r.layer("Ingest.bytes_written_mb", bytesWritten / 1e6 / episodes, "MB")
    r.layer("Ingest.episodes", episodes.toDouble, "count")
  }

  /** Tracing overhead, measured on one warm repeated operation (a lookup
    * in the last episode's catalog) run alternately with the listeners
    * and spans off and on. */
  private def overhead(r: Run, catalog: String): Unit = {
    val off, on = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 4; traced <- Seq(false, true)) {
      r.tracer.enable(traced)
      for (_ <- 0 until 5) {
        val t0 = System.nanoTime()
        r.tracer.span("probe", "trace.probe")(Ingest.findChunk(r.spark, catalog, "0", 0L).collect())
        (if (traced) on else off) += Stats.ms(t0, System.nanoTime())
      }
    }
    r.tracer.enable(true)
    r.layer("trace.overhead_pct", (Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1) * 100, "%")
  }
}
