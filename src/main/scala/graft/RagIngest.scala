package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-ingest evidence for the persisted RAG chunk index (r18
  * verdict ask #5): the chunk corpus of each SF dir is fed through
  * [[graft.ops.IvfIndex.addIdempotent]] in `--batches` equal slices, each
  * append timed — the O(batch) claim is per-append seconds staying FLAT
  * as the accumulated store grows (and, across SF dirs, as the corpus
  * grows) — beside the one-shot bulk [[graft.ops.IvfIndex.add]] of the
  * whole corpus (the rebuild path the r18 coldwarm record priced at
  * ~10.7 s) and the store-served retrieval read
  * ([[graft.ops.IvfIndex.searchOwn]], persisted quantizer, multi-probe).
  *
  * Usage: runMain graft.RagIngest --out <file> <sfDir> [<sfDir>...]
  *          [--batches 16]
  *
  * Chunking/embedding matches the q_rag family (window 32 / stride 24,
  * hash16 8-dim vec), so the numbers sit beside BENCH_SCALE_RAG directly.
  * Reference analog: TableViewImpl reads existing entries once then
  * TAILS the topic (pulsar-client/.../TableViewImpl.java:96-99) — ingest
  * cost tracks the delta, never the accumulated state. */
object RagIngest {

  private def takeOpt(as: Seq[String], flag: String): (Option[String], Seq[String]) =
    as.indexOf(flag) match {
      case -1 => (None, as)
      case i =>
        require(i + 1 < as.length, s"$flag needs an argument")
        (Some(as(i + 1)), as.patch(i, Nil, 2))
    }

  /** The q_rag chunk corpus of a dir: (cid, vec) with the deterministic
    * hash16 embedding. */
  private def chunkVecs(s: SparkSession, d: String): DataFrame =
    graft.ops.RagChunk.chunks(graft.core.Tables.documents(s, d),
        "doc_id", "text", window = 32, stride = 24)
      .withColumn("cid", col("doc_id") * 1000L + col("chunk_idx"))
      .withColumn("vec", transform(sequence(lit(1), lit(8)), i =>
        graft.functions.TextFunctions.hash16(
          concat(i.cast("string"), lit(":"), col("chunk_text")))
          .cast("double")))
      .select(col("doc_id"), col("cid"), col("vec"))

  def main(args: Array[String]): Unit = {
    val (outArg, rest1) = takeOpt(args.toSeq, "--out")
    val (batchArg, dirs) = takeOpt(rest1, "--batches")
    require(dirs.nonEmpty, "pass at least one sf dir")
    val out = outArg.getOrElse("RAG_INGEST_LOCAL.json")
    val nBatches = batchArg.map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", shufflePartitions = Some(cpus.toInt))
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val perDir = dirs.map { d =>
      val tmp = java.nio.file.Files.createTempDirectory("rag-ingest")
      val chunks = graft.ops.Materialize(chunkVecs(spark, d))
      val nChunks = chunks.count()
      val k = graft.queries.VectorQueries.sqrtCells(nChunks)
      val idx = new graft.ops.IvfIndex(spark,
        tmp.resolve("ragivf").toString, "cid", "vec")
      val (trainS, cents) = timed(
        idx.centroids(chunks, k = k, iters = 2))
      // incremental ingest: equal doc_id-hash slices through the
      // replay-idempotent streaming face, each append timed
      val batchS = (0 until nBatches).map { b =>
        timed(idx.addIdempotent(
          chunks.where(pmod(xxhash64(col("doc_id")), lit(nBatches)) === b)
            .select(col("cid"), col("vec")),
          graft.ops.KMeans.assignExpr(col("vec"), cents)))._1
      }
      require(idx.postingsCount() == nChunks,
        "incremental ingest lost or duplicated chunks")
      // the rebuild path: the same corpus bulk-added in one shot
      val bulk = new graft.ops.IvfIndex(spark,
        tmp.resolve("ragivf-bulk").toString, "cid", "vec")
      val (oneshotS, _) = timed(bulk.add(
        chunks.select(col("cid"), col("vec")),
        graft.ops.KMeans.assignExpr(col("vec"), cents)))
      // store-served retrieval (the q_rag_retrieve_ivf query set)
      val queries = chunks.where(col("cid") < 2000L)
        .select(col("cid"), col("vec"))
      val (retrieveS, nAnn) = timed(
        idx.searchOwn(queries, nprobe = 2, k = 5)
          .select(col("query_id")).distinct().count())
      graft.ops.Materialize.release(chunks)
      val firstHalf = batchS.take(nBatches / 2).sum / (nBatches / 2)
      val secondHalf = batchS.drop(nBatches / 2).sum /
        (nBatches - nBatches / 2)
      System.err.println(f"$d: n=$nChunks train=$trainS%.2f " +
        f"appends ${batchS.map(s => f"$s%.2f").mkString(",")} " +
        f"halves $firstHalf%.2f/$secondHalf%.2f oneshot=$oneshotS%.2f " +
        f"retrieve=$retrieveS%.2f")
      (d, nChunks, k, trainS, batchS, firstHalf, secondHalf, oneshotS,
        retrieveS, nAnn)
    }

    val dirJson = perDir.map { case (d, n, k, tr, bs, h1, h2, os, rs, na) =>
      s"""{"dir":"$d","n_chunks":$n,"cells":$k,""" +
        s""""train_s":${JsonNum.fmt(tr, 2)},""" +
        s""""append_s":[${bs.map(JsonNum.fmt(_, 3)).mkString(",")}],""" +
        s""""append_first_half_mean_s":${JsonNum.fmt(h1, 3)},""" +
        s""""append_second_half_mean_s":${JsonNum.fmt(h2, 3)},""" +
        s""""oneshot_add_s":${JsonNum.fmt(os, 2)},""" +
        s""""retrieve_s":${JsonNum.fmt(rs, 2)},"n_queries_answered":$na}"""
    }.mkString("[", ",", "]")
    val rec = s"""{"metric":"rag_incremental_ingest","batches":$nBatches,""" +
      s""""unit":"sec","dirs":$dirJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      rec.getBytes("UTF-8"))
    println(rec)
    spark.stop()
  }
}
