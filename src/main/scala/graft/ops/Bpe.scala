package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained byte-pair-encoding merges — the learned counterpart of the
  * GPT-2-style pre-tokenizer regex ([[graft.functions.TextFunctions
  * .bpePattern]]): token budgets derived from a fixed regex drift from any
  * real tokenizer's counts, so the budget-bearing operators (packing,
  * budget sampling) need counts from merges learned ON the corpus.
  *
  * Representation: a word is a delimiter-wrapped symbol string —
  * `␟a␟␟b␟␟c␟` (each symbol individually wrapped in \\u0001) — so that
  * applying merge (x, y) is ONE left-to-right non-overlapping string
  * `replace("␟x␟␟y␟" → "␟xy␟")`: exactly BPE's single merge pass
  * (adjacent equal pairs merge leftmost-first, a consumed symbol cannot
  * re-pair), with identical semantics in every engine that has plain
  * `replace` — which is what lets a SQL oracle replay training and
  * encoding bit-for-bit. No UDFs anywhere: training is a pair-count
  * aggregate iterated numMerges times over the DISTINCT-word table
  * (original BPE trains on word types weighted by frequency — the table
  * is corpus-vocabulary-sized, tiny next to the corpus), and encoding is
  * a chain of codegen'd `replace` calls.
  *
  * Determinism: the argmax merge breaks count ties by (left, right)
  * binary string order, so the same corpus always learns the same table.
  */
object Bpe {

  /** Symbol delimiter: a control char that never appears in text tokens
    * (inputs containing it are dropped from training and counted by their
    * raw symbols at encode time). */
  val Delim = "\u0001"

  final case class Merge(left: String, right: String)

  private def wrap(w: Column): Column =
    regexp_replace(w, "(.)", s"$Delim$$1$Delim")

  private def mergeOnce(s: Column, m: Merge): Column =
    replace(s, lit(s"$Delim${m.left}$Delim$Delim${m.right}$Delim"),
      lit(s"$Delim${m.left}${m.right}$Delim"))

  /** Learn `numMerges` merges from the corpus's whitespace words. Each
    * iteration is one distributed pair-count aggregate over the cached
    * word-type table plus a 1-row argmax collect; the table is re-written
    * (one `replace`) and re-materialized, so plan depth stays O(1), and
    * the superseded table is released (the call leaves nothing persisted).
    * Fails loudly if the corpus runs out of adjacent pairs early — a
    * shorter table would silently desynchronize consumers sized to
    * `numMerges` (and the SQL oracle's unrolled replay). */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    var words = Materialize(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "" && !col("w").contains(Delim))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(wrap(col("w")).as("s"), col("freq")))
    val out = Seq.newBuilder[Merge]
    try (0 until numMerges).foreach { i =>
      val syms = split(regexp_replace(col("s"),
        s"^$Delim|$Delim$$", ""), s"$Delim$Delim")
      val best = words
        .select(col("freq"), explode(when(size(syms) < 2,
          array().cast("array<struct<l:string,r:string>>"))
          .otherwise(transform(sequence(lit(1), size(syms) - 1), j =>
            struct(element_at(syms, j).as("l"),
              element_at(syms, j + 1).as("r"))))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"BPE training exhausted adjacent pairs after $i merges — " +
          s"corpus too small for numMerges=$numMerges")
      val m = Merge(best(0).getString(0), best(0).getString(1))
      out += m
      val prev = words
      words = Materialize(
        prev.select(mergeOnce(col("s"), m).as("s"), col("freq")))
      Materialize.release(prev)
    } finally Materialize.release(words)
    out.result()
  }

  /** A word encoded under the merges, as its symbol string (apply merges
    * in rank order, one left-to-right pass each). */
  def encodeWord(w: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(wrap(w))(mergeOnce)

  /** All subword tokens of a whitespace-tokenized text, in order. */
  def encode(text: Column, merges: Seq[Merge]): Column =
    flatten(transform(filter(split(text, " "), w => w =!= ""), w =>
      split(regexp_replace(encodeWord(w, merges),
        s"^$Delim|$Delim$$", ""), s"$Delim$Delim")))

  /** Subword token count of a text under the merges — one scalar fold,
    * counting symbol boundaries per word without materializing the token
    * arrays. */
  def countTokens(text: Column, merges: Seq[Merge]): Column =
    aggregate(
      filter(split(text, " "), w => w =!= ""),
      lit(0L),
      (acc, w) => {
        val s = encodeWord(w, merges)
        acc + (length(s) - length(replace(s, lit(Delim + Delim),
          lit(Delim)))).cast("long") + lit(1L)
      })

  /** The tokenizer's vocabulary as (sym, id): every distinct final symbol
    * of the corpus's word types under `merges`, ids assigned by binary
    * string rank — deterministic, so two engines (or two builds over the
    * same corpus) number identically. The frame is vocabulary-sized; the
    * single-task rank window is over that tiny frame, never the corpus. */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "" && !col("w").contains(Delim))
      .distinct()
      .select(explode(split(regexp_replace(encodeWord(col("w"), merges),
        s"^$Delim|$Delim$$", ""), s"$Delim$Delim")).as("sym"))
      .distinct()
      .withColumn("id",
        row_number().over(Window.orderBy(col("sym"))).cast("long") - 1L)
  }

  /** Documents as trainable records: (id, input_ids) with every subword
    * mapped through [[vocab]] — the final artifact a training reader
    * consumes. The vocabulary broadcast-joins onto the exploded subword
    * stream; order is restored by (word, symbol) position, not by any
    * partition accident. */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[Merge]): DataFrame = {
    val v = vocab(docs, textCol, merges)
    docs.select(col(idCol),
        posexplode(encode(col(textCol), merges)).as(Seq("pos", "sym")))
      .join(broadcast(v), "sym")
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("id")))),
        x => x.getField("id")).as("input_ids"))
  }

  /** Persist a merges table (rank, left, right) as one tiny parquet — the
    * reusable tokenizer artifact, like a persisted quantizer. */
  def save(spark: SparkSession, path: String, merges: Seq[Merge]): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case (m, i) => (i, m.left, m.right) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merges table persisted by [[save]], in rank order. */
  def load(spark: SparkSession, path: String): Seq[Merge] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .as[(Int, String, String)].collect()
      .sortBy(_._1).map(t => Merge(t._2, t._3)).toSeq
  }
}
