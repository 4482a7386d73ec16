package graft.ops

import java.io.File

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 full-text relevance search over the corpus — the native query-side
  * counterpart of the ElasticSearch sink ([[ElasticSink]] ships documents to
  * an external index; this answers the same top-k relevance queries inside
  * the engine). Okapi BM25 with the standard k1=1.2, b=0.75.
  *
  * Reference analog: the ES sink's document routing
  * (pulsar-io/elastic-search/.../ElasticSearchSink.java) exists so users can
  * search what flowed through; a Spark-native engine can serve the search
  * itself from a postings table.
  *
  * '''Determinism contract.''' Every per-(term,doc) BM25 contribution is
  * computed from INTEGER statistics (tf, dl, df, N, Σtokens) in a fixed
  * IEEE op order — identical on both engines — then snapped to a
  * fixed-point BIGINT; a document's score is the exact integer sum of its
  * matched terms' contributions, independent of aggregation order. Ranking
  * orders by (score DESC, doc id) — total-ordered.
  *
  * '''Scale shape.''' tf/dl/df are map-side-combined aggregations; corpus
  * totals ride in as a one-row broadcast; the query set (a handful of rows)
  * broadcasts onto the postings. Top-k per query is a rank-filtered window
  * — Spark rewrites it to WindowGroupLimit (a running top-k heap before and
  * after the shuffle), so no query's full candidate list is ever sorted.
  */
object Bm25 {

  private[ops] def fp(x: Column): Column =
    floor(x * lit(1000000.0) + lit(0.5)).cast("long")

  /** Fixed-point BM25 contribution of one (term, doc) posting. All inputs
    * are integer columns; the op order here must mirror [[bm25ContribSql]]
    * exactly (IEEE ops are exactly rounded, so same order ⇒ same bits). */
  private[ops] def contribFp(tf: Column, dl: Column, df: Column,
                             nDocs: Column, nToks: Column): Column = {
    val avgdl = nToks.cast("double") / nDocs.cast("double")
    val idf = log(lit(1.0) +
      (nDocs.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)))
    val num = tf.cast("double") * lit(2.2)
    val den = tf.cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * (dl.cast("double") / avgdl))
    fp(idf * (num / den))
  }

  /** The DuckDB mirror of [[contribFp]] — interpolate the five stat column
    * names. Kept beside the Scala so the two op orders can be eyeballed. */
  private[graft] def bm25ContribSql(tf: String, dl: String, df: String,
                                    nDocs: String, nToks: String): String =
    s"""CAST(floor(
          ln(1.0 + (CAST($nDocs AS DOUBLE) - CAST($df AS DOUBLE) + 0.5)
                 / (CAST($df AS DOUBLE) + 0.5))
          * ((CAST($tf AS DOUBLE) * 2.2)
             / (CAST($tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST($dl AS DOUBLE)
                  / (CAST($nToks AS DOUBLE) / CAST($nDocs AS DOUBLE))))))
          * 1000000.0 + 0.5) AS BIGINT)"""

  /** Postings (term, id, tf, dl) + one-row corpus stats (n_docs, n_toks)
    * for a document set. n_docs counts ALL rows (a zero-token document
    * dilutes avgdl, as in Lucene); n_toks counts non-empty tokens. */
  private[ops] def postingsOf(docs: DataFrame, idCol: String,
                              textCol: String): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
    val tf = toks.groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("n_toks")))
    (tf.join(dl, idCol), stats)
  }

  private[ops] def queryTerms(spark: SparkSession,
                              queries: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("qid", "qtext")
      .select(col("qid"), explode(split(col("qtext"), " ")).as("t"))
      .where(col("t") =!= "").distinct()
  }

  /** Score `queries` (qid → whitespace query string) against the corpus;
    * top `k` docs per query as (qid, doc_id, rank, score_fp). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            queries: Seq[(String, String)], k: Int): DataFrame = {
    val (postings, stats) = postingsOf(docs, idCol, textCol)
    val df = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    rank(queryTerms(docs.sparkSession, queries)
      .join(postings, "t").join(df, "t")
      .crossJoin(broadcast(stats)), idCol, k)
  }

  /** Shared ranking tail: integer-sum the per-term contributions, then
    * keep the top-k per query in (score DESC, id) order. */
  private[ops] def rank(matched: DataFrame, idCol: String,
                        k: Int): DataFrame = {
    val scores = matched
      .select(col("qid"), col(idCol),
        contribFp(col("tf"), col("dl"), col("df"),
          col("n_docs"), col("n_toks")).as("c_fp"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("c_fp")).as("score_fp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_fp").desc, col(idCol))
    scores.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col(idCol), col("rank").cast("long").as("rank"),
        col("score_fp"))
  }
}

/** PERSISTED BM25 postings index — the 100 TB shape for serving relevance
  * queries over a continuously-ingested corpus: you never re-tokenize the
  * corpus per query; each batch appends its postings once, and a search
  * reads ONLY the term-hash partitions its query terms live in.
  *
  * Layout ([[GenStore]] generations, the [[MinHashIndex]] pattern):
  * postings rows (t, id, tf, dl, ord) partitioned by `tp` = letter-prefixed
  * first md5 hex char of the term (16 directories); corpus stats accumulate
  * as one tiny `_stats` parquet row per append inside the generation (so a
  * search never scans the postings to learn N/avgdl). Appends are
  * idempotent per (batch, ord): replaying a crashed append rewrites
  * byte-identical postings rows (deduped on read by (t, id)) and its
  * `_stats` row is deduped by ord. Each document belongs to exactly ONE
  * batch — re-adding a document under a new ord is a caller error (its tf
  * would double-count), the same single-driver cron-loop contract the other
  * persisted indexes carry. [[compact]] rewrites the live generation to one
  * file per partition under the atomic pointer swap.
  */
final class Bm25Index(spark: SparkSession, path: String,
                      idCol: String, textCol: String,
                      strictOrd: Boolean = false) {

  private val gens = new GenStore(path)

  // the shared ord-discipline advisory: a fresh-checkpoint restart
  // re-adds stored documents under NEW (lower) ords, and here that
  // silently DOUBLE-COUNTS their tf — the worst of the ord footguns
  private val hwm = new OrdHighWater(new File(path), "bm25", strictOrd)

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Append one batch's postings + stats row. `ord` identifies the batch
    * for replay-dedup; pass the same ord when retrying a crashed append.
    * An EMPTY batch appends nothing, and a batch whose every doc
    * tokenizes to NOTHING (fully-excised paragraph-dedup survivors)
    * appends its stats row but no postings: a zero-row partitioned
    * postings write leaves a dir with no data files, and as the store's
    * first append that breaks schema inference for every later read.
    * The stats row still lands (token-less docs dilute avgdl, as in
    * Lucene) and is written from driver-side scalars (n_docs from a
    * column-pruned count, n_toks read off the persisted postings), so
    * both guards cost no tokenize pass. */
  def add(batch: DataFrame, ord: Long): Unit = gens.append(hwm, ord) { gen =>
    val (postings, _) = Bm25.postingsOf(batch, idCol, textCol)
    // n_docs counts ALL batch rows (token-less docs dilute avgdl, as in
    // Lucene) — a column-pruned count, no tokenize. The old shape
    // collected the (n_docs, n_toks) stats frame first, which tokenized
    // the whole batch ONCE for the count and then AGAIN for the postings
    // write; instead the postings are persisted (batch-sized), n_toks is
    // read off them (Σtf ≡ non-empty token occurrences), and the write
    // reuses the materialized blocks — one tokenize pass per add.
    val nDocs = batch.count()
    if (nDocs != 0L) {
      // paramLong keeps the plan source batch-stable; repartition on the
      // partition column lands one file per touched tp leaf per append
      val posts = postings
        .withColumn("ord", graft.functions.Params.paramLong(ord))
        .withColumn("tp", concat(lit("p"), substring(md5(col("t")), 1, 1)))
        .persist()
      try {
        val nToks = posts.agg(coalesce(sum(col("tf")), lit(0L)))
          .head.getLong(0)
        if (nToks != 0L)
          Par.byCols(posts, col("tp"))
            .write.mode("append").partitionBy("tp")
            .parquet(gen.getAbsolutePath + "/postings")
        import spark.implicits._
        Seq((nDocs, nToks, ord)).toDF("n_docs", "n_toks", "ord")
          .coalesce(1)
          .write.mode("append").parquet(gen.getAbsolutePath + "/_stats")
      } finally { posts.unpersist(); () }
    }
  }

  /** A generation holds postings once any add had a token: a batch of
    * token-less docs lands a stats row and no postings. */
  private val postingsPresent: File => Boolean =
    f => f.getName == "postings" && Fs.hasDataFiles(f)

  /** Top-k per query, reading only the query terms' `tp` partitions.
    * Byte-identical to [[Bm25.score]] over the same accumulated corpus. */
  def search(queries: Seq[(String, String)], k: Int): DataFrame = {
    val gen = gens.currentGen().getOrElse(
      throw new IllegalStateException(s"empty BM25 index at $path"))
    // a store fed only token-less docs so far has stats but no postings
    if (!Fs.hasDataFiles(new File(gen, "postings")))
      throw new IllegalStateException(s"BM25 index at $path has no postings")
    val terms = queries.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct
    val prefixes = terms.map(t => "p" + md5Hex(t).substring(0, 1)).distinct
    val postings = spark.read.parquet(gen.getAbsolutePath + "/postings")
      .where(col("tp").isin(prefixes: _*)) // static partition pruning
      .dropDuplicates("t", idCol)          // crashed-append replay guard
    val stats = spark.read.parquet(gen.getAbsolutePath + "/_stats")
      .dropDuplicates("ord")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    // df comes from probed partitions only — a term's postings all live in
    // its own tp slice, so the count is exact
    val df = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    Bm25.rank(Bm25.queryTerms(spark, queries)
      .join(postings.drop("tp", "ord"), "t").join(df, "t")
      .crossJoin(broadcast(stats)), idCol, k)
  }

  /** Rewrite the live generation to one postings file per partition and
    * one stats FILE; keeps the replaced generation for one cycle.
    *
    * Stats rows stay PER-ORD through compaction (deduped, not summed):
    * the crash contract sanctions replaying a crashed batch under its own
    * ord, and a replay landing AFTER a compaction appends that batch's
    * stats row again — against an aggregate row labeled `max(ord)` the
    * two would collide on the ord key and `search`'s dropDuplicates
    * could keep either one, silently collapsing N/Σtokens (hence avgdl
    * and every IDF) to one batch's counts. Kept per-ord, the replayed
    * row dedups against its byte-identical original instead. Cost: one
    * tiny row per batch ever ingested in a single coalesced file — the
    * per-search stats read stays one file scan. */
  def compact(): Unit = gens.rewrite(postingsPresent) { (cur, next) =>
    spark.read.parquet(cur.getAbsolutePath + "/postings")
      .dropDuplicates("t", idCol)
      .transform(d => Par.byCols(d, col("tp"))).write.mode("overwrite")
      .partitionBy("tp").parquet(next.getAbsolutePath + "/postings")
    spark.read.parquet(cur.getAbsolutePath + "/_stats")
      .dropDuplicates("ord")
      .coalesce(1).write.mode("overwrite")
      .parquet(next.getAbsolutePath + "/_stats")
  }

  /** [[GenStore.compactIfDue]] over the widest `tp` partition's file
    * count. */
  def compactIfDue(maxBatches: Int): Boolean =
    gens.compactIfDue(maxBatches)(compact())
}
