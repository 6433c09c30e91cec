package perfbench

import graft.crawl.Liveness
import graft.features.{ExtractConfig, ExtractorSet5}
import graft.fixtures.{Fixtures, NetSynth}
import graft.frontier.{Politeness, SeenFilter}
import graft.html.LinkExtract
import graft.jobs.CrawlWave
import graft.parse.{Blocks, CharsetDecode, SampleRender}
import graft.urls.Canonicalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Layer measurements taken from outside the engine, through its public
  * functions, after the traced crawl. */
object Probes {

  /** Up to `n` fixture pages (a seed-independent sample: the first `n`
    * by url), as the engine's fetch join hands them to the extract map. */
  def sample(spark: SparkSession, pages: DataFrame, n: Int): Array[CrawlWave.FetchRow] = {
    import spark.implicits._
    pages.orderBy("url").limit(n)
      .select(col("url"), col("warc_ts"), col("html"), col("text_hash"))
      .as[(String, Option[java.sql.Timestamp], Option[Array[Byte]], Option[Long])]
      .collect()
      .zipWithIndex.map { case ((u, ts, html, th), i) =>
        CrawlWave.FetchRow(i.toLong, u, Canonicalize.crawlerDomain(u), 0, i.toLong, ts, html, th)
      }
  }

  /** Runs `fetchOutcome` over `rows` on `threads` threads, `total` calls
    * in all; returns a checksum so the loop cannot be eliminated. */
  def pipelineLoop(rows: Array[CrawlWave.FetchRow], threads: Int, total: Int): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val per = (total + threads - 1) / threads
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var i = 0
        var local = 0L
        while (i < per) {
          val o = CrawlWave.fetchOutcome(rows((k * per + i) % rows.length))
          local += (if (o.ok) o.text.length else 1)
          i += 1
        }
        acc.addAndGet(local)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    acc.get()
  }

  private var sink = 0L

  /** Median over 5 rounds of the mean time per item, in microseconds;
    * each round repeats the list until it has run for at least 100 ms. */
  private def usPerItem[A](xs: Array[A])(f: A => Long): Double = {
    val rounds = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < 100000000L) {
        var i = 0
        while (i < xs.length) { sink += f(xs(i)); i += 1 }
        n += xs.length
      }
      (System.nanoTime() - t0) / 1e3 / n
    }
    Fork.median(rounds)
  }

  /** The Spark-free per-URL pipeline, stage by stage, on one thread, and
    * the 4-thread scaling of the whole `fetchOutcome`. */
  def pipeline(rows: Array[CrawlWave.FetchRow]): Map[String, Double] = {
    val hits = rows.filter(_.html.isDefined)
    val decoded = hits.map { r =>
      (r, CharsetDecode.decode(r.html.get,
        CharsetDecode.headerCharset(NetSynth.contentTypeOf(r.url))))
    }
    val synth = decoded.map { case (r, c) => (r, c, NetSynth.forUrlNoBody(r.url, c.length)) }
    val alive = synth.filter { case (_, c, s) =>
      Liveness.isAlive(Some(s.contentType), c, s.status).alive }
    val rendered = alive.map { case (r, c, s) =>
      val (text, blocks) = SampleRender.renderWithBlocks(r.url, c, s.net)
      (r, text, blocks.getOrElse(Blocks.splitText(text)))
    }
    val asOf = Fixtures.baseEpochSeconds
    val one = usPerItem(rows)(r => CrawlWave.fetchOutcome(r).seq)
    def throughput(threads: Int): Double = {
      val t0 = System.nanoTime()
      val total = 4000 * threads
      pipelineLoop(rows, threads, total)
      total / ((System.nanoTime() - t0) / 1e9)
    }
    throughput(1); throughput(4)
    val t1 = Fork.median((1 to 3).map(_ => throughput(1)))
    val t4 = Fork.median((1 to 3).map(_ => throughput(4)))
    Map(
      "parse.decode_us" -> usPerItem(hits)(r => CharsetDecode.decode(r.html.get,
        CharsetDecode.headerCharset(NetSynth.contentTypeOf(r.url))).length.toLong),
      "html.links_us" -> usPerItem(decoded)(x => LinkExtract.links(x._2).length.toLong),
      "crawl.liveness_us" -> usPerItem(synth) { case (_, c, s) =>
        if (Liveness.isAlive(Some(s.contentType), c, s.status).alive) 1L else 0L },
      "parse.render_us" -> usPerItem(alive) { case (r, c, s) =>
        SampleRender.renderWithBlocks(r.url, c, s.net)._1.length.toLong },
      "features.extract_us" -> usPerItem(rendered) { case (r, _, b) =>
        val asOfRow = r.warc_ts.map(_.toInstant.getEpochSecond).getOrElse(asOf)
        ExtractorSet5.extractFromBlocks(b, ExtractConfig(asOfRow)).length.toLong },
      "jobs.hash_text_us" -> usPerItem(rendered)(x => CrawlWave.hashText(x._2)),
      "jobs.fetch_outcome_us" -> one,
      "jobs.fetch_outcome_scaling_4t" -> t4 / (4 * t1),
      "pages" -> rows.length.toDouble)
  }

  /** `Politeness.schedule` over the fixture's ready rows, materialized;
    * median of three. */
  def schedule(spark: SparkSession, seeds: DataFrame, periodMs: Long): Double = {
    val ready = CrawlWave.initFrontier(seeds).where(col("state") === "ready").cache()
    ready.count()
    val ts = (1 to 3).map { _ =>
      Fork.timed(Politeness.schedule(ready, periodMs).write.format("noop")
        .mode("overwrite").save())._2
    }
    ready.unpersist()
    Fork.median(ts)
  }

  /** The workload's seen filter (kind and per-partition layout) filled
    * with its own `url_hash` stream, then probed with keys never put. */
  def filter(spark: SparkSession, seeds: DataFrame, pages: DataFrame,
      conf: Fork.Conf): Map[String, Double] = {
    import spark.implicits._
    val cfg = Fork.config(conf)
    val hashes = seeds.select("url").union(pages.select("url")).distinct()
      .select(xxhash64(col("url"))).as[Long].collect()
    val unseen = hashes.map(h => graft.ops.PortableHash.mix64(h ^ 0x5deece66dL))
    val P = cfg.seenPartitions
    def fresh() = Array.fill(P)(SeenFilter.fresh(cfg.seenFilter, cfg.bloomBitsPerPartition,
      cfg.bloomHashes, cfg.cuckooCapacityPerPartition))
    def part(h: Long) = java.lang.Math.floorMod(h, P.toLong).toInt
    var filters = fresh()
    val put = Fork.median((1 to 5).map { _ =>
      filters = fresh()
      val t0 = System.nanoTime()
      hashes.foreach(h => filters(part(h)).put(h))
      (System.nanoTime() - t0).toDouble / hashes.length
    })
    var positives = 0L
    val probe = Fork.median((1 to 5).map { _ =>
      positives = 0L
      val t0 = System.nanoTime()
      unseen.foreach(h => if (filters(part(h)).mightContain(h)) positives += 1)
      (System.nanoTime() - t0).toDouble / unseen.length
    })
    Map("frontier.filter_put_ns" -> put, "frontier.filter_probe_ns" -> probe,
      "frontier.filter_fp_ratio" -> positives.toDouble / unseen.length,
      "keys" -> hashes.length.toDouble)
  }

  /** Store shape after the traced crawl (read through the store's readers
    * and the file system in [[Fork.crawl]]) and its publish cadence. */
  def storeStats(crawl: Map[String, Any]): Map[String, Any] = {
    val gaps = crawl("publish_gap_ms").asInstanceOf[Seq[Double]]
    Map(
      "store.versions" -> crawl("versions"),
      "store.files_live" -> crawl("store_files"),
      "store.max_table_dirs" -> crawl("max_table_dirs"),
      "store.bytes_live" -> crawl("store_bytes"),
      "store.publish_ms_p50" -> percentile(gaps, 0.5),
      "store.publish_ms_p90" -> percentile(gaps, 0.9),
      "publish_gaps" -> gaps.length)
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
    }

  /** Per-phase wall, task time and Spark counters of the traced crawl. */
  def phases(trace: Trace, listener: SpanListener, cores: Int,
      groups: Map[String, Seq[Int]]): Map[String, Double] = {
    val byId = trace.all.map(s => s.id -> s).toMap
    groups.toSeq.flatMap { case (phase, ids) =>
      val wall = ids.map(id => byId(id).sec).sum
      val c = listener.sum(ids)
      Seq(
        s"jobs.${phase}_s" -> wall,
        s"jobs.$phase.task_s" -> c.taskMs / 1000.0,
        s"jobs.$phase.gc_s" -> c.gcMs / 1000.0,
        s"jobs.$phase.shuffle_bytes" -> c.shuffleBytes.toDouble,
        s"jobs.$phase.spill_bytes" -> c.spillBytes.toDouble,
        s"jobs.$phase.spark_jobs" -> c.jobs.toDouble,
        s"jobs.$phase.idle_core_s" -> (wall * cores - c.taskMs / 1000.0))
    }.toMap ++ {
      val c = listener.sum(groups.values.flatten)
      Map("spark.task_s" -> c.taskMs / 1000.0, "spark.gc_s" -> c.gcMs / 1000.0)
    }
  }

  /** This JVM's I/O counters (`/proc/self/io`); `rchar`/`wchar` count
    * bytes through read/write calls, whether or not they reach the disk. */
  def procIo(): Map[String, Long] =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/io")).asScala
      .flatMap { l => l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      } }.toMap

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally st.close()
    }

  def treeBytes(p: Path): Long = files(p).map(Files.size).sum
  def treeFiles(p: Path): Long = files(p).length.toLong

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
}
