package graft.ops

import graft.ops.ParagraphDedup.{explodeUnits, exciseByDrops}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED paragraph-dedup index — the incremental face of
  * [[ParagraphDedup]]: a corpus ingested batch-by-batch keeps each
  * structural unit (paragraph/line) ONCE, at its first arrival, and
  * excises every later occurrence — including occurrences arriving in the
  * same batch (batch-internal keep-first) and in any later batch
  * (cross-batch keep-first). Run over batches in corpus order this
  * reproduces the one-shot [[ParagraphDedup.excise]] row-for-row; run over
  * a live stream it is the boilerplate filter at ingest.
  *
  * '''Layout''' ([[GenStore]] generations): one keeper row
  * (ph, id, pos, ord) per distinct unit hash, partitioned by `php` =
  * letter-prefixed first md5 hex char (16 directories). A batch probe
  * touches only the partitions its unit hashes land in — O(batch) work
  * against a corpus-sized store — and appends only NOVEL units.
  *
  * '''Crash contract.''' A replayed [[addAndExcise]] sees its own partial
  * append: the keeper row it wrote IS this batch's first occurrence, and
  * the drop rule exempts the occurrence that equals the stored keeper, so
  * the replay returns the same excision and the anti-join lands the
  * remainder exactly once — the store converges to one keeper per unit
  * (arbitrated by (ord, id, pos) at read). Appends and compaction
  * serialize across threads and processes on [[StoreLock]]
  * ([[GenStore.append]]); [[compact]] rewrites one file per partition
  * under the atomic pointer swap.
  */
final class ParagraphIndex(spark: SparkSession, path: String,
                           idCol: String, textCol: String,
                           sep: String = "\n\n",
                           strictOrd: Boolean = false) {

  private val gens = new GenStore(path)
  private val present = GenStore.partitionDir("php")

  // the shared ord-discipline advisory: cross-batch keep-first is
  // arbitrated by min(struct(ord, id, pos)) at read and compact — a
  // fresh-checkpoint restart that resets ords silently FLIPS keepers to
  // the replayed copies, the exact footgun [[OrdHighWater]] exists for
  private val hwm = new OrdHighWater(new java.io.File(path), "paragraph",
    strictOrd)

  private def php = concat(lit("p"), substring(col("ph"), 1, 1))

  /** One arbitrated keeper (ph, id, pos, ord) per unit hash: the
    * smallest (ord, id, pos) occurrence. */
  private def arbitrated(rows: DataFrame): DataFrame =
    rows.groupBy(col("ph"))
      .agg(min(struct(col("ord"), col(idCol), col("pos"))).as("__k"))
      .select(col("ph"), col(s"__k.$idCol").as(idCol),
        col("__k.pos").as("pos"), col("__k.ord").as("ord"))

  /** Stored keepers as (ph, __kid, __kpos), optionally pruned to the
    * `php` partitions a batch touches BEFORE the arbitration aggregate —
    * an isin on the partition column prunes directories at planning
    * time, so both the scan and the per-ph min run over only the touched
    * slices (the un-pruned face aggregated the whole store every probe). */
  private def storedKeepers(
      phpTouched: Option[Seq[String]] = None): Option[DataFrame] =
    gens.readLive(spark, present).map { df =>
      arbitrated(phpTouched.map(t => df.where(col("php").isin(t: _*)))
          .getOrElse(df))
        .select(col("ph"), col(idCol).as("__kid"), col("pos").as("__kpos"))
    }

  /** Probe + excise + append one batch; returns the batch's documents
    * with every non-first unit occurrence excised (same contract as
    * [[ParagraphDedup.excise]]: untouched docs verbatim, fully-excised
    * docs as empty rows). */
  def addAndExcise(batch: DataFrame, ord: Long): DataFrame =
      gens.append(hwm, ord) { gen =>
    // materialized once per add (batch-sized): the touched-prefix collect,
    // the novel write, and the returned excise frame each re-ran the
    // explode + md5 subtree when it was lazy (~4 evaluations per add)
    val u = Materialize(explodeUnits(batch, idCol, textCol, sep)
      .withColumn("ph", md5(col("para"))))

    // store keepers for ONLY the partitions this batch's hashes touch —
    // pruned on the php partition column inside storedKeepers, so the
    // scan AND the arbitration aggregate cover just the touched slices
    val pruned = {
      val touched = u.select(substring(col("ph"), 1, 1)).distinct()
        .collect().map(r => "p" + r.getString(0))
      if (touched.isEmpty) None
      else storedKeepers(Some(touched.toSeq))
    }

    // batch-first occurrence per unit (map-side combinable min)
    val first = u.groupBy(col("ph"))
      .agg(min(struct(col(idCol), col("pos"))).as("__f"))
      .select(col("ph"), col(s"__f.$idCol").as("__fid"),
        col("__f.pos").as("__fpos"))

    val annotated = pruned match {
      case None => u.join(first, Seq("ph"))
        .withColumn("__kid", lit(null).cast("long"))
        .withColumn("__kpos", lit(null).cast("long"))
      case Some(st) => u.join(first, Seq("ph")).join(st, Seq("ph"), "left")
    }

    // stored unit: drop every occurrence EXCEPT the stored keeper itself
    // (the exemption is what makes a crash replay idempotent — fresh
    // batches never contain their own keeper, so it changes nothing for
    // them); novel unit: drop all but the batch-first
    val drops = annotated.where(
      when(col("__kid").isNotNull,
        !(col(idCol) === col("__kid") && col("pos") === col("__kpos")))
        .otherwise(
          !(col(idCol) === col("__fid") && col("pos") === col("__fpos"))))
      .select(col(idCol), col("pos"))

    // novel units land with this batch's ord; the anti-join makes a
    // replayed append a no-op
    val novel = pruned match {
      case None => first
      case Some(st) => first.join(st, Seq("ph"), "left_anti")
    }
    novel.select(col("ph"), col("__fid").as(idCol),
        col("__fpos").as("pos"))
      .withColumn("ord", graft.functions.Params.paramLong(ord))
      .withColumn("php", php)
      .transform(d => Par.byCols(d, col("php")))
      .write.mode("append").partitionBy("php")
      .parquet(gen.getAbsolutePath)

    exciseByDrops(batch, idCol, textCol, sep, u, drops)
  }

  /** One (ph, keeper_id, keeper_pos) row per distinct unit ever seen. */
  def keepers(): DataFrame =
    storedKeepers()
      .getOrElse(throw new IllegalStateException(
        s"empty paragraph index at $path"))
      .select(col("ph"), col("__kid").as("keeper_id"),
        col("__kpos").as("keeper_pos"))

  /** Rewrite the live generation to one arbitrated keeper per unit, one
    * file per partition; keeps the replaced generation for one cycle. */
  def compact(): Unit = gens.rewrite(present) { (cur, next) =>
    arbitrated(spark.read.parquet(cur.getAbsolutePath))
      .withColumn("php", php)
      .transform(d => Par.byCols(d, col("php")))
      .write.mode("overwrite").partitionBy("php")
      .parquet(next.getAbsolutePath)
  }

  /** [[GenStore.compactIfDue]] over the widest partition's file count. */
  def compactIfDue(maxBatches: Int): Boolean =
    gens.compactIfDue(maxBatches)(compact())

  /** Live generation path (plan audits / external scans). */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath
}
