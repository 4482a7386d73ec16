package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED SimHash near-dup index — the incremental face of
  * [[SimHashDedup]], completing the persisted-index family (exact,
  * paragraph, LSH, components, IVF, IVF-PQ): a corpus ingested
  * batch-by-batch flags every document within `maxHamming` bits of an
  * EARLIER document (earlier batch, or smaller id in the same batch) and
  * reports the smallest such neighbor.
  *
  * '''Semantics: detection, not survivor election.''' Every document is
  * indexed — including flagged ones — so the dup flag means "an earlier
  * near-duplicate exists", uniformly within and across batches (the
  * exists-earlier model, exactly what the one-shot
  * [[SimHashDedup.nearDuplicates]] pair set induces). Cluster resolution
  * and keeper election over hamming CHAINS stay [[Components]]' job, the
  * same division of labor the LSH postings index uses.
  *
  * '''Layout''' ([[GenStore]] generations): melted posting rows
  * (id, simhash, blk, v, ord) — one row per pigeonhole block — partitioned
  * by `pb` = block index. A batch probe touches only the (blk, v) buckets
  * its own fingerprints land in: probe planning is ONE bounded driver
  * collect (≤ batch × blocks keys, the [[MinHashIndex]] discipline) that
  * feeds a static bucket filter pushed into the parquet scan.
  *
  * '''The 256 bound.''' Within a bucket all fingerprints agree on the
  * block's `width` bits, so a bucket holds at most 2^(16−width) DISTINCT
  * fingerprints (256 at the default 2×8-bit split). The store probe side
  * aggregates to (blk, v, simhash) → min(id) BEFORE the join — exact for
  * both the dup flag and the min-id keeper (if the per-fingerprint min is
  * later than the probe, every holder of that fingerprint is) — so the
  * join's store side is ≤ 256 rows per bucket NO MATTER how large the
  * corpus grows: the hot-bucket skew a boilerplate-heavy crawl creates is
  * structurally capped.
  *
  * '''Crash contract.''' A replayed [[addAndDedup]] sees its own partial
  * append: self-matches are exempted by id, so verdicts are unchanged
  * (a doc this batch deduped still finds its in-batch keeper in the
  * store), and the append re-lands behind an id anti-join — the store
  * converges. Appends and compaction serialize across threads and
  * processes on [[StoreLock]] ([[GenStore.append]]); [[compact]] rewrites
  * one file per partition under the atomic pointer swap.
  */
final class SimHashIndex(spark: SparkSession, path: String, idCol: String,
                         maxHamming: Int = 1, strictOrd: Boolean = false) {

  private val gens = new GenStore(path)
  private val present = GenStore.partitionDir("pb")

  // the shared ord-discipline advisory: the dup flag is EXISTS-EARLIER,
  // where "earlier" is (earlier batch, or smaller id in-batch) — a
  // fresh-checkpoint restart that resets ords re-probes stored docs as
  // if they were new and flips verdicts silently (see [[OrdHighWater]])
  private val hwm = new OrdHighWater(new java.io.File(path), "simhash",
    strictOrd)
  private val blocks = maxHamming + 1
  require(16 % blocks == 0, s"16 bits must split evenly into $blocks blocks")
  private val width = 16 / blocks
  private val mask = (1 << width) - 1

  /** (id, simhash, blk, v) posting rows for a fingerprint frame. */
  private def melt(sh: DataFrame): DataFrame =
    sh.select(col(idCol), col("simhash"),
      explode(array((0 until blocks).map(i => struct(
        lit(i).as("blk"),
        shiftright(col("simhash"), i * width).bitwiseAND(mask).as("v")
      )): _*)).as("b"))
      .select(col(idCol), col("simhash"),
        col("b.blk").as("blk"), col("b.v").as("v"))

  private def bucketKey = col("blk").cast("long") * 65536L + col("v")

  /** Probe + flag + append one batch. Returns one row per batch doc that
    * HAS a fingerprint: (id, simhash, is_dup, keeper) — keeper the
    * smallest earlier id within `maxHamming`, null for novel docs. */
  def addAndDedup(batch: DataFrame, textCol: String, ord: Long): DataFrame =
      gens.append(hwm, ord) { gen =>
    // materialize the (md5-heavy) fingerprint subtree ONCE: `m` below
    // covers the posting consumers, but the verdict join re-reads `sh`
    // itself — lazy, that re-ran the per-token hashing over the batch a
    // second time (and the caller's action a third)
    val sh = Materialize(SimHashDedup.simhash16(batch, idCol, textCol))
    val m = melt(sh).persist()
    try {
      // probe planning: the touched bucket keys, collected ONCE
      val touched = m.select(bucketKey.as("k")).distinct()
        .collect().map(_.getLong(0))

      // pb isin stays a literal partition filter (planning-time pruning,
      // never codegen'd); the exact-bucket narrowing goes through the
      // reference-based set so the probe plan's generated source is
      // byte-stable across batches ([[graft.functions.LongSetContains]])
      val stored = gens.readLive(spark, present)
        .filter(_ => touched.nonEmpty)
        .map(_.where(col("pb").isin(
            touched.map(k => s"b${k / 65536}").distinct.toSeq: _*)
            && graft.functions.Params.inLongSet(bucketKey, touched.toSet)))
      // ≤ 2^(16−width) rows per bucket: per-fingerprint min id
      val storeAgg = stored.map(_.groupBy(col("blk"), col("v"), col("simhash"))
        .agg(min(col(idCol)).as("cand")))

      def ham(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        bit_count(a.bitwiseXOR(b))

      // store-side matches (self exempted → replay-stable verdicts)
      val fromStore = storeAgg.map { sa =>
        m.join(sa.withColumnRenamed("simhash", "s2"), Seq("blk", "v"))
          .where(ham(col("simhash"), col("s2")) <= maxHamming &&
            col("cand") =!= col(idCol))
          .select(col(idCol), col("cand"))
      }.getOrElse(spark.emptyDataFrame
        .withColumn(idCol, lit(0L)).withColumn("cand", lit(0L))
        .limit(0))

      // batch-internal matches against per-fingerprint batch minima
      val batchAgg = m.groupBy(col("blk"), col("v"), col("simhash"))
        .agg(min(col(idCol)).as("cand"))
      val fromBatch = m
        .join(batchAgg.withColumnRenamed("simhash", "s2"), Seq("blk", "v"))
        .where(ham(col("simhash"), col("s2")) <= maxHamming &&
          col("cand") < col(idCol))
        .select(col(idCol), col("cand"))

      val dups = fromStore.union(fromBatch)
        .groupBy(col(idCol)).agg(min(col("cand")).as("keeper"))

      val verdict = sh.join(dups, Seq(idCol), "left")
        .select(col(idCol), col("simhash"),
          col("keeper").isNotNull.as("is_dup"), col("keeper"))

      // EVERY batch doc's postings append once (the id anti-join makes a
      // crash replay a no-op — a replayed doc's rows sit in exactly the
      // buckets the pruned read fetched)
      val storedIds = stored.map(_.select(col(idCol)).distinct())
      val fresh = storedIds
        .map(si => m.join(si, Seq(idCol), "left_anti"))
        .getOrElse(m)
      // paramLong keeps the append plan's generated source batch-stable;
      // the pre-write repartition on the partition column lands ONE file
      // per touched leaf per append (the appendDepth contract) instead of
      // one per (task × leaf)
      fresh.withColumn("ord", graft.functions.Params.paramLong(ord))
        .withColumn("pb", concat(lit("b"), col("blk")))
        .repartition(blocks, col("pb"))
        .write.mode("append").partitionBy("pb")
        .parquet(gen.getAbsolutePath)
      verdict
    } finally { m.unpersist(); () }
  }

  /** Rewrite the live generation to distinct posting rows (crash-replay
    * residue collapsed), one file per partition; keeps the replaced
    * generation for one cycle. */
  def compact(): Unit = gens.rewrite(present) { (cur, next) =>
    spark.read.parquet(cur.getAbsolutePath)
      // full-row distinct: true replays collapse, while a conflicting
      // re-add (same id, different fingerprint) stays visible rather than
      // silently losing an arbitrary row
      .select(col(idCol), col("simhash"), col("blk"), col("v"), col("ord"))
      .distinct()
      .withColumn("pb", concat(lit("b"), col("blk")))
      .transform(d => Par.byCols(d, col("pb")))
      .write.mode("overwrite").partitionBy("pb")
      .parquet(next.getAbsolutePath)
  }

  /** [[GenStore.compactIfDue]] over the widest partition's file count. */
  def compactIfDue(maxBatches: Int): Boolean =
    gens.compactIfDue(maxBatches)(compact())

  /** Live generation path (plan audits / external scans). */
  def currentGenerationPath: Option[String] = gens.currentGenerationPath
}
