package perfbench

import graft.fixtures.Fixtures
import graft.jobs.{CrawlWave, Synth}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-derived crawl inputs. The engine's own URL synthesizer
  * ([[Synth.seedsSql]]) runs over an `orders` relation generated here, so
  * the benchmark needs no external data. The URL population is fixed for
  * a given size — `n` order keys at TPC-H's sparse key pattern (8 of every
  * 32 integers), customer keys hashed from the order key — so every seed
  * sees the same hosts, duplicates, robots denials and pages. The seed
  * sets the frontier order: each row's `seq` (a seed-keyed permutation,
  * which also decides the first-seen winner among duplicate URLs) and its
  * `priority` (0-2), both of which the politeness schedule ranks by.
  *
  * `pages` holds one row per distinct fetchable seed URL (minus the
  * fixture's deterministic fetch misses) in the fingerprint-at-ingest
  * shape `(url, warc_ts, html, text_hash)`. */
object Fixture {

  def orders(spark: SparkSession, n: Int): DataFrame =
    spark.range(0, n.toLong, 1, 4).select(
      (col("id").divide(8).cast("long") * 32 + col("id") % 8 + 1).as("o_orderkey"),
      (pmod(xxhash64(col("id")), lit(math.max(1L, n / 10L))) + 1).as("o_custkey"))

  def seeds(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    orders(spark, n).createOrReplaceTempView("orders")
    val order = org.apache.spark.sql.expressions.Window.orderBy(xxhash64(col("seq"), lit(seed)))
    spark.sql(Synth.seedsSql)
      .withColumn("priority", pmod(xxhash64(col("seq"), lit(seed + 1)), lit(3L)).cast("int"))
      .withColumn("seq", row_number().over(order).cast("long"))
      .select("seq", "url", "priority")
  }

  /** The pages table for `seedsDf`: one row per distinct fetchable URL. */
  def pages(spark: SparkSession, seedsDf: DataFrame): DataFrame = {
    import spark.implicits._
    seedsDf.where(expr(Synth.fetchableWhere)).select("url").distinct().as[String]
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap(u => Fixtures.pageFor(u).map(p =>
        (p.url, p.warc_ts, p.html, Option(p.text).map(t => CrawlWave.hashText(t)))).toSeq)
      .toDF("url", "warc_ts", "html", "text_hash")
  }

  /** Order-independent content fingerprint of a frame: row count and the
    * wrapping sum of per-row xxhash64 over all columns. */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head
    f"${r.getLong(0)}-${Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L)}%016x"
  }
}
