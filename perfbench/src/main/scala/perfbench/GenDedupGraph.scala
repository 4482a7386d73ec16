package perfbench

/** A planted near-duplicate cluster: the pivot, its exact copies and its
  * near copies (document ids). */
final case class Cluster(pivot: Long, exact: Seq[Long], near: Seq[Long]) {
  def members: Seq[Long] = pivot +: (exact ++ near)
}

/** The batch dedup + graph corpus. Planted clusters of `clusterSize`
  * documents (a pivot, `exactPerCluster` exact copies, the rest near copies
  * with `nearDupEdits` words replaced) among unique documents set the pair
  * expansion volume; an eval set holds exact copies, near copies and unique
  * documents. The link graph has a power-law in-degree tail: link targets
  * are Zipf-ranked with exponent 1 / (degreeExponent − 1). */
final class GenDedupGraph(seed: Long,
                          val docs: Int = 300,
                          val clusters: Int = 30,
                          val clusterSize: Int = 5,
                          val exactPerCluster: Int = 2,
                          val nearDupEdits: Int = 1,
                          val docWords: Int = 120,
                          val evalDocs: Int = 30,
                          val vocabSize: Int = 3000,
                          val wordSkew: Double = 1.0,
                          val nodes: Int = 600,
                          val edges: Int = 2400,
                          val degreeExponent: Double = 2.2) {
  private val r = Gen.rng(seed, "dedup_graph")
  private val vocab = Gen.vocabulary(seed, vocabSize)
  private val zipf = new Gen.Zipf(vocabSize, wordSkew)

  private def fresh(): Array[String] = Gen.words(r, vocab, zipf, docWords)

  /** (id, text) for the corpus, planted clusters, and (id, text, kind) for
    * the eval set (kind: exact, near or unique). */
  val (corpus, planted, eval): (Vector[(Long, String)], Vector[Cluster],
    Vector[(Long, String, String)]) = {
    val ids = Gen.shuffle(r, Array.tabulate(docs)(_.toLong)).iterator
    val texts = Vector.newBuilder[(Long, String)]
    val cs = Vector.newBuilder[Cluster]
    val pivots = Vector.newBuilder[Array[String]]
    (0 until clusters).foreach { _ =>
      val base = fresh()
      pivots += base
      val p = ids.next()
      texts += p -> base.mkString(" ")
      val ex = (0 until exactPerCluster).map { _ =>
        val i = ids.next(); texts += i -> base.mkString(" "); i }
      val nr = (0 until clusterSize - 1 - exactPerCluster).map { _ =>
        val i = ids.next()
        texts += i -> Gen.nearCopy(r, base, vocab, nearDupEdits).mkString(" ")
        i
      }
      cs += Cluster(p, ex, nr)
    }
    ids.foreach(i => texts += i -> fresh().mkString(" "))
    val ps = pivots.result()
    val ev = (0 until evalDocs).map { k =>
      val id = 1000000L + k
      k % 3 match {
        case 0 => (id, ps(k % ps.size).mkString(" "), "exact")
        case 1 => (id, Gen.nearCopy(r, ps(k % ps.size), vocab, nearDupEdits)
          .mkString(" "), "near")
        case _ => (id, fresh().mkString(" "), "unique")
      }
    }.toVector
    (texts.result().sortBy(_._1), cs.result(), ev)
  }

  /** Directed links (src, dst), deduplicated, no self-links. */
  val links: Vector[(Long, Long)] = {
    val dst = new Gen.Zipf(nodes, 1.0 / (degreeExponent - 1.0))
    // Zipf ranks are shuffled onto node ids so the hubs are not 0, 1, 2
    val perm = Gen.shuffle(r, Array.tabulate(nodes)(_.toLong))
    Vector.fill(edges)((r.nextInt(nodes).toLong, perm(dst.draw(r))))
      .filter { case (a, b) => a != b }.distinct
  }

  def digest: String = Gen.digest(
    corpus.iterator.map { case (i, t) => s"$i|$t" } ++
      eval.iterator.map { case (i, t, k) => s"$i|$k|$t" } ++
      links.iterator.map { case (a, b) => s"$a>$b" })

  /** Measured shares of the generated properties. */
  def shares: Seq[(String, Double)] = Seq(
    "share_planted_docs" -> planted.map(_.members.size).sum.toDouble / docs,
    "share_exact_dup" -> planted.map(_.exact.size).sum.toDouble / docs,
    "share_near_dup" -> planted.map(_.near.size).sum.toDouble / docs,
    "mean_cluster_size" -> planted.map(_.members.size).sum.toDouble /
      math.max(1, planted.size),
    "graph_edges" -> links.size.toDouble,
    "graph_in_degree_exponent" -> Gen.powerLawExponent(
      links.groupBy(_._2).values.map(_.size)))
}
