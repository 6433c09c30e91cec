package perfbench

import graft.jobs.CrawlWave
import graft.store.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One crawl leg of a benchmark run, in its own JVM:
  *
  *   Fork key=value ...
  *
  * Keys: `cores`, `parts` (data layout, the same for every leg of a run),
  * `seed`, `orders` (URL population), `period` (wave period, ms),
  * `expire_keep`, `compact_every`,
  * `bloom_bits`, `seconds` (timed window), `min_crawls`, `trace` (0/1),
  * `warm_every` (the warm-up crawl takes the seeds whose `seq` is a
  * multiple of it), `fixtures`, `work`,
  * `out` (result JSON), `fault` (exit/hang: fault injection for the
  * failure-isolation check).
  *
  * Set-up (session start, fixture generation, JIT warm-up) stays outside
  * the timed window. The timed window runs crawls back to back, one at a
  * time, until `seconds` have passed and at least `min_crawls` finished.
  * A traced run adds one traced crawl (spans around every public
  * `CrawlWave` call plus a [[SpanListener]]), the query probes on the
  * traced crawl's samples ([[Queries]]) and the layer probes. */
object Fork {

  final case class Conf(kv: Map[String, String]) {
    def s(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    def i(k: String): Int = s(k).toInt
    def l(k: String): Long = s(k).toLong
    def b(k: String): Boolean = s(k) == "1"
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = conf.i("cores")
    val work = conf.s("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf.s("cores")}c")
      .config("spark.sql.shuffle.partitions", conf.i("parts"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    conf.kv.get("fault") match {
      case Some("exit") => System.exit(1)
      case Some("hang") => Thread.sleep(Long.MaxValue)
      case _ => ()
    }
    result("session_s") = sessionS
    result("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    result("spark") = spark.version

    // ---- fixtures (generated three times, the median counts as set-up;
    // once in a traced run, which reports no set-up time)
    val fix = conf.s("fixtures")
    val fixtureS = (1 to (if (conf.b("trace")) 1 else 3)).map { _ =>
        timed {
          val seeds = Fixture.seeds(spark, conf.l("seed"), conf.i("orders"))
          seeds.write.mode("overwrite").parquet(s"$fix/seeds")
          Fixture.pages(spark, spark.read.parquet(s"$fix/seeds"))
            .write.mode("overwrite").parquet(s"$fix/pages")
        }._2
      }
    result("fixture_s") = median(fixtureS)
    val seedsDf = spark.read.parquet(s"$fix/seeds")
    val pagesDf = spark.read.parquet(s"$fix/pages")
    result("fixture_fingerprint") =
      s"seeds:${Fixture.fingerprint(seedsDf)}/pages:${Fixture.fingerprint(pagesDf)}"

    // ---- JIT warm-up: the per-URL pipeline on this fixture's pages, then
    // one crawl under the measured configuration, of every
    // `warm_every`-th seed: every code path of the timed crawls
    val sample = Probes.sample(spark, pagesDf, 2000)
    val stores = s"$work/stores-${cores}c"
    val warmS = timed {
      Probes.pipelineLoop(sample, cores, 1500 * cores)
      val warmSeeds = seedsDf.where(col("seq") % conf.i("warm_every") === 0)
      crawl(spark, config(conf), warmSeeds, pagesDf, s"$stores/warm", None)
    }._2
    result("warm_s") = warmS

    // ---- timed window (tracing off)
    val liveHeap = new LiveHeap
    System.gc()
    liveHeap.reset()
    val crawls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = System.nanoTime()
    while (crawls.length < conf.i("min_crawls") ||
        (System.nanoTime() - w0) / 1e9 < conf.i("seconds")) {
      crawls += crawl(spark, config(conf), seedsDf, pagesDf, s"$stores/c${crawls.length}", None)
    }
    result("heap_after_gc_mb") = liveHeap.all
    result("crawls") = crawls

    if (conf.b("trace")) {
      val trace = new Trace(s"${conf.s("workload")}-seed${conf.s("seed")}-${cores}c-${ProcessHandle.current.pid}")
      val listener = new SpanListener(trace)
      spark.sparkContext.addSparkListener(listener)
      val traced = crawl(spark, config(conf), seedsDf, pagesDf, s"$stores/traced",
        Some(trace -> listener), keepStore = true)
      listener.drain()
      result("traced") = traced
      // the query layers, on the traced crawl's samples
      result("queries") = Queries.run(spark,
        new SnapshotTable(spark, s"$stores/traced").readLatest("samples").get,
        s"$work/queries", s"$work/query-out", trace, listener)
      result("phases") = Probes.phases(trace, listener, cores,
        traced("span_ids").asInstanceOf[Map[String, Seq[Int]]])
      result("store") = Probes.storeStats(traced)
      result("pipeline") = Probes.pipeline(sample)
      result("schedule_s") = Probes.schedule(spark, seedsDf, conf.l("period"))
      result("filter") = Probes.filter(spark, seedsDf, pagesDf, conf)
      Files.write(Paths.get(s"$work/trace.jsonl"), trace.jsonLines.asJava)
    }
    Files.writeString(Paths.get(conf.s("out")), Json(result))
    spark.stop()
  }

  /** Heap in use right after each collection (the live set plus what
    * the collector left), sampled from GC notifications. */
  final class LiveHeap {
    import com.sun.management.GarbageCollectionNotificationInfo
    private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val samples = mutable.ArrayBuffer.empty[Long]
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if pools.contains(k) => u.getUsed }.sum
            samples.synchronized(samples += used)
          }, null, null)
      case _ => ()
    }
    def reset(): Unit = samples.synchronized(samples.clear())
    def all: Seq[Double] = samples.synchronized(samples.map(_ / 1048576.0).toList)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def config(conf: Conf): CrawlWave.Config = {
    val d = CrawlWave.Config()
    // CrawlMain's defaults: pipelined commits, window rank, bloom filter,
    // one data layout for every core count
    d.copy(
      wavePeriodMs = conf.l("period"),
      partitions = conf.i("parts"),
      pipelineCommits = true,
      expireKeep = conf.i("expire_keep"),
      compactSeenEvery = conf.i("compact_every"),
      bloomBitsPerPartition = conf.i("bloom_bits"))
  }

  private def instantOf(p: Path): Option[Instant] =
    try Some(Files.getLastModifiedTime(p).toInstant)
    catch { case _: java.io.IOException => None }

  /** One crawl, the way `CrawlMain` runs it: `init`, then `step` until
    * the plan is exhausted. Each wave's freshness is read from outside —
    * the publish time (mtime) of the manifest its `step` returned, which
    * is recorded as soon as it exists, before retention can expire it. */
  def crawl(spark: SparkSession, cfg: CrawlWave.Config, seeds: DataFrame, pages: DataFrame,
      root: String, traced: Option[(Trace, SpanListener)],
      keepStore: Boolean = false): Map[String, Any] = {
    val store = new SnapshotTable(spark, root)
    val cw = new CrawlWave(spark, pages, store, cfg)
    val manifests = Paths.get(root, "manifests")
    val published = mutable.HashMap.empty[Int, Instant]
    def scan(): Unit =
      if (Files.isDirectory(manifests)) {
        val st = Files.list(manifests)
        try st.iterator().asScala.foreach { p =>
          val n = p.getFileName.toString
          if (n.matches("v\\d{5,}\\.json")) {
            val v = n.substring(1, n.length - 5).toInt
            if (!published.contains(v)) instantOf(p).foreach(published(v) = _)
          }
        } finally st.close()
      }
    def span[T](name: String)(body: => T): (T, Int) = traced match {
      case Some((t, _)) => val (r, s) = t.span(name)(body); (r, s.id)
      case None => (body, 0)
    }
    // this JVM's I/O (`/proc/self/io`) across the traced crawl
    val io0 = if (traced.isDefined) Probes.procIo() else Map.empty[String, Long]
    val start = Instant.now()
    val t0 = System.nanoTime()
    val (_, initSpan) = span("init")(cw.init(seeds))
    scan()
    // (step call time, version returned, span id)
    val steps = mutable.ArrayBuffer.empty[(Instant, Option[Int], Int)]
    var more = true
    while (more) {
      val st = Instant.now()
      val (v, sid) = span("step")(cw.step())
      scan()
      steps += ((st, v, sid))
      more = v.isDefined
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val io1 = if (traced.isDefined) Probes.procIo() else Map.empty[String, Long]
    def ms(a: Instant, b: Instant): Double =
      java.time.Duration.between(a, b).toNanos / 1e6
    val waves = steps.collect { case (st, Some(v), _) if published.contains(v) =>
      ms(st, published(v)) }
    val waveVersions = steps.flatMap(_._2)
    val firstWaveS = waveVersions.headOption.flatMap(published.get)
      .map(p => ms(start, p) / 1000.0).getOrElse(Double.NaN)
    val publishTimes = published.toSeq.sortBy(_._1).map(_._2)
    val publishGapsMs = publishTimes.zip(publishTimes.drop(1)).map { case (a, b) => ms(a, b) }

    // ---- correctness (outside the timed window)
    val v = store.latestVersion.get
    // per state: row count and the wrapping sum of xxhash64(seq, state,
    // wave), which add up to the frontier's order-independent digest
    val byState = store.read("frontier", v).groupBy("state")
      .agg(count(lit(1)), sum(xxhash64(col("seq"), col("state"), col("wave")).cast("decimal(38,0)")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toBigInteger.longValue))
    val states = byState.map(r => r._1 -> r._2).toMap
    val digest = f"${byState.map(_._2).sum}-${byState.map(_._3).sum}%016x"
    val sampleStats = store.read("samples", v).agg(
      sum(when(col("render_match"), 0L).otherwise(1L)),
      sum(octet_length(col("text")).cast("long"))).head
    val storeBytes = Probes.treeBytes(Paths.get(root))

    val out = mutable.LinkedHashMap[String, Any](
      "wall_s" -> wallS,
      "first_wave_s" -> firstWaveS,
      "wave_ms" -> waves,
      "publish_gap_ms" -> publishGapsMs,
      "states" -> states,
      "render_mismatch" -> (if (sampleStats.isNullAt(0)) 0L else sampleStats.getLong(0)),
      "text_bytes" -> (if (sampleStats.isNullAt(1)) 0L else sampleStats.getLong(1)),
      "frontier_digest" -> digest,
      "store_bytes" -> storeBytes,
      "store_files" -> Probes.treeFiles(Paths.get(root)),
      "versions" -> v,
      "max_table_dirs" -> store.tableDirs(v).values.map(_.length).maxOption.getOrElse(0))
    traced.foreach { _ =>
      out("io") = Map(
        "read_bytes" -> (io1("rchar") - io0("rchar")),
        "write_bytes" -> (io1("wchar") - io0("wchar")))
      // phase classes (see Probes.phases): init, first step, middle steps,
      // last step plus the call that returned None
      val ids = steps.map(_._3).toList
      out("span_ids") = Map(
        "init" -> Seq(initSpan),
        "prefetch" -> ids.take(1),
        "wave" -> ids.slice(1, math.max(1, ids.length - 2)),
        "final" -> ids.drop(math.max(1, ids.length - 2)))
    }
    if (!keepStore) Probes.deleteTree(Paths.get(root))
    out.toMap
  }
}
