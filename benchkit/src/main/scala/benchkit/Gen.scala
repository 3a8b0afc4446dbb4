package benchkit

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is derived in two steps:
  *
  *  1. a fixed base table shaped like the sf0.1 testdata (same columns,
  *     value domains and size distributions), generated from constant
  *     seeds, so it is the same for every run;
  *  2. a seeded derivation: key offsets and token edits (documents),
  *     near-dup injection (documents), a bijective key relabeling
  *     (lineitem) and jitter (embeddings).
  *
  * Rows are generated per key from their own `SplittableRandom`, so the
  * content does not depend on partitioning or thread count. Tables are
  * written as `<name>.parquet` directories, the layout `graft.lake.Tables`
  * and `graft.SparkEntry.*On(spark, dir)` read.
  */
object Gen {
  val Vocab: Array[String] = ("batch part spark line column order small sort fast value scan a hash slow " +
    "group agg filter query big key window row table stream merge data vector join customer the").split(" ")
  val Langs: Array[String] = Array("en", "en", "en", "zh", "es", "fr", "de") // ~sf0.1's en share
  val BaseDocs  = 5000
  val Sources   = 20
  val EmbDim    = 64
  val EmbLabels = 10
  val EmbGroups = 100

  private def rng(parts: Long*): SplittableRandom = {
    var h = 0x9E3779B97F4A7C15L
    parts.foreach { p => h = java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 27) * 0x94D049BB133111EBL }
    new SplittableRandom(h)
  }

  private def baseTokens(id: Int): Array[String] = {
    val r = rng(1, id)
    Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.length)))
  }

  /** Replace `k` tokens after the first with seeded words: the first
    * token is the document's `topic:` value, so it must survive. */
  private def edit(toks: Array[String], r: SplittableRandom, k: Int): Array[String] = {
    val out = toks.clone()
    if (out.length > 1) (0 until k).foreach(_ => out(1 + r.nextInt(out.length - 1)) = Vocab(r.nextInt(Vocab.length)))
    out
  }

  /** (doc_id, text, lang, source, n_chars) for the seeded derivation
    * of the first `n` base docs: a key offset, two token edits per doc,
    * and 5 % of the docs (seeded choice) replaced by a copy of another
    * doc of the same length — one in five exact, the rest near-dups
    * edited only in their last fifth, so long docs share ≥50-token
    * spans. Counts and lengths do not depend on the seed, so neither
    * does the work.
    */
  def documentRows(seed: Long, n: Int = BaseDocs): Seq[(Long, String, String, String, Long)] = {
    val offset = Math.floorMod(seed, 97L) * 100000L
    val base   = Array.tabulate(n)(baseTokens)
    val byLen  = (0 until n).groupBy(i => base(i).length)
    val r0     = rng(2, seed)
    val order  = (0 until n).map(i => (r0.nextLong(), i)).sorted.map(_._2)
    val dups   = order.take(n / 20).zipWithIndex.toMap // target -> rank
    (0 until n).map { i =>
      val r = rng(11, seed, i)
      val toks = dups.get(i) match {
        case Some(rank) =>
          val same = byLen(base(i).length).filter(_ != i)
          val src  = if (same.isEmpty) base(i) else base(same(r.nextInt(same.size)))
          val keep = src.length * 4 / 5
          if (rank % 5 == 0) src else src.take(keep) ++ edit(src.drop(keep), r, 1)
        case None => edit(base(i), r, 2)
      }
      val text = toks.mkString(" ")
      (offset + i, text, Langs(rng(4, i).nextInt(Langs.length)), s"src${i % Sources}", text.length.toLong)
    }
  }

  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int = BaseDocs): Unit = {
    import spark.implicits._
    documentRows(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The field-line lake the cascade extracts from: `topic:` is the
    * first token, `source:` the source column — the gold the f1 check
    * compares against. Same rendering as the program's bench lake.
    */
  def fieldLineLake(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("string").as("path"),
      concat(
        lit("topic: "), element_at(split(col("text"), " "), 1),
        lit("\nsource: "), col("source"),
        lit("\n"), col("text")).as("content"))

  /** lineitem (l_orderkey, l_partkey, l_linenumber): `orders` baskets
    * of 1-17 lines (sf0.1's size distribution) over `parts` part keys,
    * then a seeded affine bijection on both keys. Every graph answer
    * is therefore isomorphic across seeds.
    */
  def lineitemRows(seed: Long, orders: Int, parts: Int): Iterator[(Long, Long, Int)] = {
    val r0 = rng(5, seed)
    val (pa, pb) = (1L + r0.nextLong(PrimeO - 1), r0.nextLong(PrimeO))
    val (qa, qb) = (1L + r0.nextLong(PrimeP - 1), r0.nextLong(PrimeP))
    Iterator.range(0, orders).flatMap { o =>
      val r = rng(6, o)
      // binomial-ish basket size, mean ~4, tail to 17 like sf0.1
      val n = 1 + (0 until 16).count(_ => r.nextInt(100) < 20)
      val ok = Math.floorMod(pa * o + pb, PrimeO)
      (1 to n).iterator.map { ln =>
        val p = r.nextInt(parts).toLong
        (ok, Math.floorMod(qa * p + qb, PrimeP), ln)
      }
    }
  }
  private val PrimeO = 1000003L
  private val PrimeP = 100003L

  def writeLineitem(spark: SparkSession, dir: String, seed: Long, orders: Int, parts: Int): Unit = {
    import spark.implicits._
    lineitemRows(seed, orders, parts).toSeq.toDF("l_orderkey", "l_partkey", "l_linenumber")
      .repartition(4).sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Base embeddings: `n` 64-d vectors in 100 tight, independently
    * placed groups (label = group mod 10, sf0.1's 10 labels), so a
    * query's ten nearest neighbours sit in its own group; the
    * derivation adds seeded jitter. Ids `from until from + n`.
    */
  def embeddingRows(seed: Long, from: Long, n: Int): Seq[(Long, Array[Float], Int)] = {
    val groups = Array.tabulate(EmbGroups) { g =>
      val r = rng(10, g); Array.fill(EmbDim)((r.nextDouble() - 0.5) * 0.6)
    }
    (0 until n).map { j =>
      val id  = from + j
      val rb  = rng(8, id)
      val g   = rb.nextInt(EmbGroups)
      val rj  = rng(9, seed, id)
      val v = Array.tabulate(EmbDim) { d =>
        (groups(g)(d) + (rb.nextDouble() - 0.5) * 0.04 + (rj.nextDouble() - 0.5) * 0.01).toFloat
      }
      (id, v, g % EmbLabels)
    }
  }

  def embeddingsDf(spark: SparkSession, seed: Long, from: Long, n: Int): DataFrame = {
    import spark.implicits._
    embeddingRows(seed, from, n).map { case (i, v, l) => (i, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
  }

  /** Content hashes and seed-invariant check values of every table, for
    * the determinism test: the same seed must give the same hashes,
    * another seed other hashes but the same check values. */
  def report(spark: SparkSession, dir: String, seed: Long): java.util.Map[String, Any] = {
    writeDocuments(spark, dir, seed)
    writeLineitem(spark, dir, seed, Curate.Orders, Curate.Parts)
    embeddingsDf(spark, seed, 0, Serve.Corpus).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out  = new java.util.LinkedHashMap[String, Any]()
    val hash = new java.util.LinkedHashMap[String, Any]()
    val chk  = new java.util.LinkedHashMap[String, Any]()
    val docs = graft.lake.Tables.documents(spark, dir)
    val li   = graft.lake.Tables.lineitem(spark, dir)
    val emb  = graft.lake.Tables.embeddings(spark, dir)
    // content hashes: file bytes depend on the writer, rows do not
    Seq("documents" -> docs, "lineitem" -> li, "embeddings" -> emb).foreach { case (n, df) =>
      hash.put(n, Hash.rows(df.collect().toSeq))
    }
    def rows(df: DataFrame) = df.collect().map(_.mkString(",")).sorted.mkString(";")
    chk.put("documents.per_source", rows(docs.groupBy("source").count()))
    chk.put("documents.per_lang", rows(docs.groupBy("lang").count()))
    chk.put("lineitem.rows", li.count())
    chk.put("lineitem.graph_card", rows(graft.SparkEntry.queries("q_graph_card")(spark, dir)))
    chk.put("embeddings.per_label", rows(emb.groupBy("label").count()))
    out.put("hashes", hash); out.put("checks", chk)
    out
  }
}
