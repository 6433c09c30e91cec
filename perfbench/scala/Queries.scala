package perfbench

import graft.SparkEntry
import graft.tfidf.{Elm, ElmTitleScorer, TfIdf, Tokenize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The query layers (`ops`, `tfidf`, `streaming`) on a crawl's own output.
  *
  * The traced crawl's first [[MaxDocs]] samples become the tables the engine's queries read
  * (`SparkEntry.queries`): `documents` (doc_id = seq, text, lang, source,
  * n_chars), `events` (one per sample, keyed by host and fetch order) and
  * `embeddings` (a 32-dimensional vector hashed from each text), next to
  * the fixture's `orders`. Each query runs once to warm up and to write
  * its result (which the caller checks against the query's DuckDB
  * oracle), then twice more inside trace spans; the mean counts.
  */
object Queries {

  /** query → the module whose code it times. */
  val modules: Seq[(String, String)] = Seq(
    "dedup_exact" -> "ops", "dedup_ngram_jaccard" -> "ops",
    "dedup_minhash_lsh" -> "ops", "dedup_simhash" -> "ops",
    "ann_brute_topk" -> "ops", "ann_lsh_topk" -> "ops",
    "lang_id" -> "ops", "quality" -> "ops", "token_counts" -> "ops",
    "fingerprints" -> "ops", "multimodal_decode" -> "ops",
    "tok_terms" -> "tfidf", "tfidf_micro" -> "tfidf", "term_select" -> "tfidf",
    "events_hourly" -> "streaming", "events_sessionize_stateful" -> "streaming")

  /** Documents per run: the first this many samples by `seq`. */
  val MaxDocs = 300

  /** Writes the query tables under `dir` from the samples frame. */
  def tables(spark: SparkSession, samples: DataFrame, dir: String): Unit = {
    val docs = samples.orderBy("seq").limit(MaxDocs)
      .select(col("seq").as("doc_id"), col("text"), col("host").as("source"))
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr"), lit("en")),
        (pmod(xxhash64(col("source")), lit(4L)) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // events: hosts are users; a user's pages arrive minutes apart, with
    // an hour-scale gap after every seventh page (sessions break there)
    d.select(
        col("doc_id").as("event_id"),
        timestamp_seconds(lit(1756684800L) + pmod(xxhash64(col("source")), lit(86400L)) +
          col("doc_id") * 97 + (col("doc_id") / 7).cast("long") * 2400).as("ts"),
        pmod(xxhash64(col("source")), lit(1000L)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("buy")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("event_type"),
        (col("n_chars") / 1000.0).as("value"),
        lit(null).cast("string").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    d.select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(31)), j =>
          ((pmod(xxhash64(col("text"), j), lit(2001L)) - 1000) / 1000.0).cast("float"))
          .as("embedding"),
        pmod(col("doc_id"), lit(2L)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    spark.table("orders").write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  /** Runs every query. Returns `names`, `failed` (queries that threw) and
    * `metrics` (`<module>.<query>_s` and `.task_s`, plus
    * `tfidf.elm_title_s`); writes each first result
    * to `<out>/<query>` and the queries' oracle SQL to
    * `<out>/oracle_sql.json`. */
  def run(spark: SparkSession, samples: DataFrame, dir: String, out: String,
      trace: Trace, listener: SpanListener): Map[String, Any] = {
    tables(spark, samples, dir)
    val oracle = SparkEntry.oracleSql
    val fns = SparkEntry.queries
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(modules.map(_._1).flatMap(q => oracle.get(q).map(q -> _)).toMap))
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    modules.foreach { case (q, module) =>
      try {
        fns(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
        val runs = (1 to 2).map { _ =>
          trace.span(s"query:$q") {
            fns(q)(spark, dir).write.format("noop").mode("overwrite").save()
          }._2
        }
        listener.drain()
        metrics(s"$module.${q}_s") = Fork.median(runs.map(_.sec))
        metrics(s"$module.$q.task_s") =
          Fork.median(runs.map(s => listener.sum(Seq(s.id)).taskMs / 1000.0))
      } catch {
        case e: Exception =>
          failed += q
          System.err.println(s"query $q failed: $e")
      }
    }
    metrics("tfidf.elm_title_s") = elmTitle(spark, dir)
    Map("names" -> modules.map(_._1), "failed" -> failed.toList, "metrics" -> metrics)
  }

  /** The title-scoring path the feature extractor calls per page, built
    * the way the reference's training script builds it: TF-IDF over the
    * first 500 documents' first 80 characters, terms at tf-idf ≥ 0.5,
    * an ELM trained on them, then every title scored. Median of three. */
  def elmTitle(spark: SparkSession, dir: String): Double = {
    import spark.implicits._
    val titles = spark.read.parquet(s"$dir/documents.parquet").orderBy("doc_id")
      .select(substring(col("text"), 1, 80)).as[String].collect()
    Fork.median((1 to 3).map { _ =>
      Fork.timed {
        val terms = Tokenize.termsPerDoc(titles.take(500).toSeq)
        val m = TfIdf.fit(terms)
        val sel = TfIdf.selectTerms(m, 0.5)
        val (x, y) = TfIdf.elmTrainMatrix(m, sel, 0.5)
        val scorer = new ElmTitleScorer(sel.map(m.vocab).toArray, Elm.train(x, y))
        titles.iterator.map(t => scorer.score(Tokenize.terms(t))).sum
      }._2
    })
  }
}
