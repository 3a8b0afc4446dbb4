package benchkit

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{Profiler, ProfilerConfig}
import graft.combine.{Combiners, StructuredView}
import graft.extract.{Clean, HttpLlmClient, LlmClient, MockLlmClient, TokenLedger}
import graft.lake.Tables

object Hash {
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(_.mkString("\u0001")).sorted.foreach(s => { md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) })
    md.digest().map("%02x".format(_)).mkString
  }
  /** Rows with columns in name order, so attribute order does not matter. */
  def view(df: DataFrame): (String, Array[Row]) = {
    val rs = df.select(df.columns.sorted.map(col): _*).collect()
    (rows(rs.toSeq), rs)
  }
}

/** Client-side LLM call timer for the traced run: a pass-through
  * wrapper around the production client. Local mode runs executors in
  * this JVM, so a JVM-wide adder sees every call. */
final case class TimedLlm(inner: LlmClient) extends LlmClient {
  def complete(prompts: Iterator[String]): Iterator[String] = prompts.map { p =>
    val t0 = System.nanoTime()
    val r  = inner.complete(Iterator.single(p)).next()
    TimedLlm.record(System.nanoTime() - t0)
    r
  }
}
object TimedLlm {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def record(ns: Long): Unit = { calls.add(ns); () }
}

/** The Evaporate OpenIE cascade through `graft.api.Profiler`, with the
  * production `HttpLlmClient` against the loopback stub. OpenIE runs
  * every step ClosedIE runs (sample, per-attribute selection, APPLY,
  * vote, pivot) plus schema identification and the validity check. */
final class Extract(ctx: Ctx) extends Workload {
  import ctx.spark
  private val cfg   = ProfilerConfig(chunkSize = 1000, trainSize = 10)
  private val attrs = Seq("topic", "source")
  private var stub: LlmStub = _
  private var lake: DataFrame = _
  private var gold: Map[String, (String, String)] = Map.empty
  private var mockHash = ""
  private var lastHash = ""
  private val f1s = ArrayBuffer.empty[Double]
  private val llmCalls = ArrayBuffer.empty[Double]
  private val llmTokens = ArrayBuffer.empty[Double]
  private var tokensByStage = Map.empty[String, Double]
  private var tracedIters = 0

  def setup(dir: Path): Unit = {
    if (stub != null) stub.stop()
    Gen.writeDocuments(spark, dir.toString, ctx.seed)
    val docs = Tables.documents(spark, dir.toString)
    lake = Gen.fieldLineLake(docs)
    gold = docs.select(col("doc_id").cast("string"), element_at(split(col("text"), " "), 1), col("source"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    stub = new LlmStub()
  }

  private def client: LlmClient = HttpLlmClient(stub.endpoint, cacheDir = None)

  /** Every lake path once; token F1 of topic/source vs the gold. */
  private def score(view: Array[Row], cols: Array[String]): Double = {
    val pi    = cols.indexOf("path")
    val paths = view.map(_.getString(pi))
    ctx.check("every lake path appears exactly once",
      paths.length == gold.size && paths.distinct.length == paths.length && paths.forall(gold.contains))
    val f1s = for (r <- view; (a, gi) <- Seq("topic" -> 0, "source" -> 1)) yield {
      val ai   = cols.indexOf(a)
      val pred = if (ai < 0 || r.isNullAt(ai)) "" else r.getString(ai)
      val g    = gold(r.getString(pi))
      tokenF1(pred, if (gi == 0) g._1 else g._2)
    }
    f1s.sum / math.max(1, f1s.length)
  }

  private def tokenF1(p: String, g: String): Double = {
    val pt = p.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val gt = g.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    if (pt.isEmpty && gt.isEmpty) 1.0
    else {
      val common = pt.intersect(gt).size.toDouble
      if (common == 0) 0.0 else { val pr = common / pt.size; val rc = common / gt.size; 2 * pr * rc / (pr + rc) }
    }
  }

  /** The same run with `MockLlmClient`: the reference the stub runs must equal. */
  def warmup(): Unit = mockHash = Hash.view(new Profiler(spark, MockLlmClient(), cfg).run(lake))._1

  private def recordLedger(ledger: TokenLedger): Unit = {
    val snap = ledger.snapshot()
    llmCalls += snap.map(_._2).sum.toDouble
    llmTokens += snap.map(r => r._3 + r._4).sum.toDouble
    tokensByStage = snap.groupBy(_._1).map { case (s, rs) => s -> rs.map(r => (r._3 + r._4).toDouble).sum }
  }

  def iterate(): Unit = {
    val ledger = new TokenLedger(spark.sparkContext)
    val (v, (h, rows)) = ctx.unit {
      val v = new Profiler(spark, client, cfg, Some(ledger)).run(lake)
      (v, Hash.view(v))
    }
    ctx.check("stub-LLM view hash equals the MockLlmClient view hash", h == mockHash)
    val f1 = score(rows, v.columns.sorted)
    ctx.check("f1 == 1.0", f1 == 1.0)
    f1s += f1
    lastHash = h
    recordLedger(ledger)
  }

  def outputHash: String = lastHash

  def quality: Double = Stats.median(f1s.toSeq)

  /** `Profiler.run` replayed through its public steps, one span each. */
  def traced(tr: Tracer): String = {
    tracedIters += 1
    val ledger = new TokenLedger(spark.sparkContext)
    val prof   = new Profiler(spark, TimedLlm(client), cfg, Some(ledger))
    graft.extract.OpaqueEval.installAccumulators(spark.sparkContext)
    graft.extract.OpaqueEval.resetCounters()
    val chunks = prof.prepare(lake)
    val sample = prof.sampleDocs(chunks, cfg.trainSize).persist()
    val h =
      try {
        tr.span("api.sample")(sample.count())
        val attrsAll = tr.span("api.identify_schema") {
          prof.rerankSchema(prof.identifySchema(sample)).orderBy(col("rank")).collect().map(_.getAs[String]("field")).toSeq
        }
        val (ex, _)  = tr.span("api.select")(prof.profileAttributesChecked(chunks, sample, attrsAll, doEndToEnd = true))
        val cached   = ex.persist()
        val dropped  = tr.span("api.validity")(prof.checkRemoveAttributes(cached)).toSet
        val kept     = attrsAll.filterNot(dropped)
        tr.span("api.view") {
          Hash.view(lake.select(col("path")).distinct().join(
            StructuredView.pivotView(cached.filter(!col("attribute").isin(dropped.toSeq: _*)),
              "path", "attribute", "value", kept), Seq("path"), "left"))._1
        }
      } finally sample.unpersist(false)
    recordLedger(ledger)
    h
  }

  /** Single calls into the lake-sized steps: chunking, the one-pass
    * APPLY of every selected spec, and vote + pivot. */
  def isolated(m: Metrics): Unit = {
    val prof   = new Profiler(spark, client, cfg)
    val (n, chunkS) = ctx.timeS(prof.prepare(lake).count())
    val chunks = prof.prepare(lake)
    val sample = prof.sampleDocs(chunks, cfg.trainSize).persist()
    val specs  = attrs.map(a => a -> prof.selectSpecsForAttribute(sample, a, doEndToEnd = false)._1).filter(_._2.nonEmpty)
    val (_, applyS) = ctx.timeS(prof.applySpecsAll(chunks, specs).count())
    val votes = prof.applySpecsAll(chunks, specs)
      .withColumn("value", Clean.cleanPrediction(col("value"), col("attribute"))).persist()
    votes.count()
    val (_, voteS) = ctx.timeS(
      StructuredView.pivotView(
        Combiners.majorityVoteAbstainAware(votes, Seq("path", "attribute"), "value", 0.0, 1.0),
        "path", "attribute", "value", specs.map(_._1)).count())
    votes.unpersist(false); sample.unpersist(false)
    m.put("lake.chunk.s", chunkS, "s")
    m.put("lake.chunk.rows", n.toDouble, "count")
    m.put("extract.apply_specs.s", applyS, "s")
    m.put("extract.apply_specs.rows_per_s", n / applyS, "rows/s")
    m.put("combine.vote_pivot.s", voteS, "s")
  }

  def finish(m: Metrics): Unit = {
    val calls = TimedLlm.calls.toArray.map(_.asInstanceOf[java.lang.Long].doubleValue / 1e6).toSeq
    val iters = math.max(1, tracedIters)
    m.put("llm_calls", Stats.median(llmCalls.toSeq), "count")
    m.put("llm_tokens", Stats.median(llmTokens.toSeq), "count")
    m.put("extract.llm.wait_s", calls.sum / 1e3 / iters, "s")
    m.put("extract.llm.call_ms_p50", Stats.median(calls), "ms")
    m.put("extract.llm.requests_per_conn", stub.requests.sum.toDouble / math.max(1L, stub.connections), "ratio")
    m.put("extract.llm.queue_ms", stub.queueNs.sum / 1e6 / math.max(1L, stub.requests.sum), "ms")
    Seq("synthesis", "gold_sample", "schema_id", "schema_rerank", "attr_validity").foreach { s =>
      m.put(s"extract.llm.tokens.$s", tokensByStage.getOrElse(s, 0.0), "count")
    }
  }

  def close(): Unit = if (stub != null) stub.stop()
}

/** Curation and graph pipelines through `graft.SparkEntry`. */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark
  val Queries = Seq("q_dedup_clusters", "q_pagerank_neardup", "q_graph_card")
  private var dir: String = _
  private var inputIds: Set[Long] = Set.empty
  private var hashes: Seq[String] = Nil
  /** `SparkEntry`'s private language markers, copied for the replay of
    * `curationOn`; the replay's hash check fails if they drift. */
  private val LangMarkers = Seq(
    "de" -> Seq("join", "table"), "en" -> Seq("the", "data"), "es" -> Seq("spark", "query"),
    "fr" -> Seq("merge", "filter"), "zh" -> Seq("row", "key"))

  def setup(d: Path): Unit = {
    dir = d.toString
    Gen.writeDocuments(spark, dir, ctx.seed, Curate.Docs)
    Gen.writeLineitem(spark, dir, ctx.seed, orders = Curate.Orders, parts = Curate.Parts)
    inputIds = Tables.documents(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet
  }

  /** Warm-up runs every pipeline once on a smaller instance from the
    * same generator and seed, and keeps those results and the oracle
    * SQL for the DuckDB check that follows the run (the oracle's
    * recursive SQL takes minutes at the timed size). */
  def warmup(): Unit = {
    val oracle = new java.util.LinkedHashMap[String, String]()
    val odir = ctx.out.resolve("oracle/input").toString
    Gen.writeDocuments(spark, odir, ctx.seed, Curate.OracleDocs)
    Gen.writeLineitem(spark, odir, ctx.seed, orders = Curate.OracleOrders, parts = Curate.OracleParts)
    graft.SparkEntry.curationOn(spark, odir).collect()
    Queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, odir).coalesce(1).write.mode("overwrite").parquet(ctx.out.resolve(s"oracle/$q").toString)
      oracle.put(q, graft.SparkEntry.oracleSql(q))
    }
    val meta = new java.util.LinkedHashMap[String, Any]()
    meta.put("input_dir", odir); meta.put("queries", oracle)
    Files.write(ctx.out.resolve("oracle/oracle.json"), new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(meta))
  }

  private def once(): Seq[String] = {
    val cur = graft.SparkEntry.curationOn(spark, dir).collect()
    val ids = cur.map(_.getAs[Long]("doc_id"))
    val shardsOk = cur.forall { r => val s = r.getAs[Int]("shard"); s >= 0 && s < 16 }
    ctx.check("curation: doc ids unique, a subset of the input, shard in [0,16)",
      ids.distinct.length == ids.length && ids.forall(inputIds.contains) && shardsOk && ids.nonEmpty)
    Hash.rows(cur.toSeq) +: Queries.map(q => Hash.rows(graft.SparkEntry.queries(q)(spark, dir).collect().toSeq))
  }

  def iterate(): Unit = {
    val h = ctx.unit(once())
    if (hashes.nonEmpty) ctx.check("outputs repeat across iterations", h == hashes)
    hashes = h
  }

  def outputHash: String = hashes.mkString("+")

  /** The share of gated queries equal to the DuckDB oracle, which
    * run.py computes after the JVM exits. */
  def quality: Double = Double.NaN

  def traced(tr: Tracer): String = {
    import graft.textops.{Curation, Dedup, TextStats}
    val d = Tables.documents(spark, dir)
    // curationOn's steps, each materialized inside its own span
    val kept = tr.span("textops.quality") {
      val q = Curation.qualityRuleFlags(d, "doc_id", "text",
        minTokens = 20, maxTokens = 100000, minMeanLen = 2.0, maxMeanLen = 10.0)
      val k = d.join(q.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi").persist()
      k.count(); k
    }
    val deduped = tr.span("textops.exact_dedup") { val x = Dedup.exactDedup(kept, "doc_id", "text").persist(); x.count(); x }
    val despanned = tr.span("textops.span_removal") {
      val x = Dedup.removeDuplicateSpans(deduped, "doc_id", "text", minTokens = 50)
        .select(col("doc_id"), col("clean_text").as("text")).persist()
      x.count(); x
    }
    val clean = tr.span("textops.decontam") {
      val contaminated = Curation.decontaminateBloom(
          despanned.filter(col("doc_id") % 89 =!= 0), d.filter(col("doc_id") % 89 === 0),
          "doc_id", "text", n = 3).select(col("doc_id"))
      val c = despanned.filter(col("doc_id") % 89 =!= 0).join(contaminated, Seq("doc_id"), "left_anti").persist()
      c.count(); c
    }
    val curHash = tr.span("textops.langid_pack") {
      val langed = clean
        .withColumn("toks", Dedup.tokensCol(lower(col("text"))))
        .withColumn("pred_lang", TextStats.langIdFromTokens(col("toks"), LangMarkers))
        .drop("toks")
      val packed = Curation.packSequences(langed, "doc_id", "text", Seq("pred_lang"), maxTokens = 64)
      val sharded = packed
        .withColumn("h", Dedup.hash60(concat(lit("shard#"), col("doc_id").cast("string"))))
        .withColumn("shard", (col("h") % 16).cast("int"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
      Hash.rows(sharded.select(col("doc_id"), col("pred_lang"), col("n_tok"),
        col("pack_id"), col("pack_offset"), col("shard"), col("pos")).collect().toSeq)
    }
    Seq(kept, deduped, despanned, clean).foreach(_.unpersist(false))
    val qh = Seq("q_dedup_clusters" -> "textops.dedup_clusters", "q_pagerank_neardup" -> "textops.pagerank_neardup")
      .map { case (q, s) => tr.span(s)(Hash.rows(graft.SparkEntry.queries(q)(spark, dir).collect().toSeq)) }
    val card = tr.span("relops.graph_card")(graphCardReplay(tr))
    (Seq(curHash) ++ qh :+ card).mkString("+")
  }

  /** `GraphOps.graphCard` replayed through the public card calls. */
  private def graphCardReplay(tr: Tracer): String = {
    import graft.relops.GraphOps
    val edges = tr.span("relops.edges") {
      val e = GraphOps.coOccurrenceEdges(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey", 50).persist()
      e.count(); e
    }
    try {
      val tri  = tr.span("relops.triangles")(GraphOps.triangleStats(edges).head())
      val prof = tr.span("relops.profile")(GraphOps.degreeProfile(edges).head())
      val core = tr.span("relops.kcore")(
        GraphOps.kCore(edges, 80, 64).agg(count(lit(1)).cast("double"), min(col("core_deg")).cast("double")).head())
      def num(r: Row, c: String): Any = { val v = r.getAs[Any](c); if (v == null) null else v.asInstanceOf[Number].doubleValue }
      val rows =
        Seq("n_nodes", "n_edges", "n_triangles", "n_wedges", "global_clustering").map(c => Row(c, num(tri, c))) ++
        Seq("avg_degree", "max_degree", "density", "assortativity").map(c => Row(c, num(prof, c))) ++
        Seq(Row("kcore_nodes", core.get(0)), Row("kcore_min_deg", if (core.isNullAt(1)) null else core.get(1)))
      Hash.rows(rows)
    } finally edges.unpersist(false)
  }

  def isolated(m: Metrics): Unit = ()

  def finish(m: Metrics): Unit = ()

  def close(): Unit = ()
}

object Curate {
  /** 1,000 documents; 5,000 orders (~21k lines) over 750 parts,
    * which keeps sf0.1's ~100 average co-purchase degree, so the
    * 80-core is not empty. */
  val Docs   = 1000
  val Orders = 5000
  val Parts  = 750
  val OracleDocs   = 100
  val OracleOrders = 1000
  val OracleParts  = 200
}

/** Closed-loop ANN serving with ingest beside it: one client submits an
  * 8-query micro-batch to `StreamingExtract.annServeStream` and waits
  * for its rows in the sink; every 4th batch it first appends 256 new
  * vectors through `pqEncodeStream` to the served codes table. */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  import graft.streaming.StreamingExtract
  import graft.textops.Similarity
  private val M = 8; private val CodeK = 16; private val K = 10; private val Rerank = 200
  private var dir: Path = _
  private var books: Map[(Int, Int), Seq[Double]] = _
  private var nextId = 0L
  private var nextQid = 0L
  private var batches = 0
  private var serveIn: MemoryStream[(Long, Seq[Double])] = _
  private var serveQ: StreamingQuery = _
  private var encodeIn: MemoryStream[(Long, Seq[Float])] = _
  private var encodeQ: StreamingQuery = _
  private val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
  private var recall = Double.NaN
  private var fitS = 0.0
  private var pending = Seq.empty[(Long, Array[Float])] // ingested vectors the next batch must find
  private val appendMs = ArrayBuffer.empty[Double]
  private var appendRows = 0L
  private var appendBytes = 0L
  private var ingestS = 0.0 // append + encode + serving restart
  private def codesFiles = Option(new java.io.File(codesDir).listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
  private def codesBytes: Long = codesFiles.map(_.length()).sum
  private def codesDir = dir.resolve("codes").toString
  private def embDir   = dir.resolve("embeddings.parquet").toString

  def setup(d: Path): Unit = {
    stopStreams()
    dir = d
    Files.createDirectories(d)
    Gen.embeddingsDf(spark, ctx.seed, 0, Serve.Corpus).repartition(4).write.mode("overwrite").parquet(embDir)
    val emb = Tables.embeddings(spark, d.toString)
    val (b, s) = ctx.timeS(Similarity.pqCodebooks(emb, "vec_id", "embedding", m = M, k = CodeK, iters = 1))
    books = b; fitS = s
    Similarity.pqEncode(emb, "vec_id", "embedding", books, M, CodeK).write.mode("overwrite").parquet(codesDir)
    nextId = Serve.Corpus; nextQid = 0L; batches = 0; pending = Nil
    startServe()
    startEncode()
  }

  private lazy val corpus = Gen.embeddingRows(ctx.seed, 0, Serve.Corpus)

  /** Jittered copies of seeded corpus vectors as queries. */
  private def probeQueries(qidFrom: Long, n: Int): Seq[(Long, Seq[Double])] = {
    val r = new java.util.SplittableRandom(ctx.seed * 31 + qidFrom)
    val picks = (0 until n).map(_ => r.nextLong(Serve.Corpus))
    picks.zipWithIndex.map { case (p, i) =>
      (qidFrom + i, corpus(p.toInt)._2.toSeq.map(x => x.toDouble + (r.nextDouble() - 0.5) * 0.01))
    }
  }

  private def startServe(): Unit = {
    if (serveQ != null) serveQ.stop()
    implicit val sqlCtx = spark.sqlContext
    serveIn = MemoryStream[(Long, Seq[Double])]
    val codes = spark.read.parquet(codesDir)
    val emb   = spark.read.parquet(embDir)
    serveQ = StreamingExtract.annServeStream(
        serveIn.toDF().toDF("qid", "qvec"), codes, emb, "vec_id", "embedding", books, K, M, CodeK, Rerank) { (res, _) =>
        res.collect().foreach(r => sink.add((r.getLong(0), r.getLong(1), r.getInt(3))))
      }
      .queryName("serve")
      .option("checkpointLocation", dir.resolve(s"ckpt-serve-${System.nanoTime()}").toString)
      .start()
  }

  private def startEncode(): Unit = {
    implicit val sqlCtx = spark.sqlContext
    encodeIn = MemoryStream[(Long, Seq[Float])]
    encodeQ = StreamingExtract.pqEncodeStream(
        encodeIn.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", books, M, CodeK) { (codes, _) =>
        codes.write.mode("append").parquet(codesDir)
      }
      .queryName("ingest")
      .option("checkpointLocation", dir.resolve("ckpt-ingest").toString)
      .start()
  }

  private def stopStreams(): Unit = {
    Seq(serveQ, encodeQ).filter(_ != null).foreach(_.stop())
    serveQ = null; encodeQ = null
  }

  /** Append 256 new vectors: raw rows to the embeddings table, codes
    * through the streaming encoder; then serve from the new files. */
  private def ingest(): Unit = {
    val rows = Gen.embeddingRows(ctx.seed + 1, nextId, Serve.IngestRows)
    nextId += Serve.IngestRows
    val bytes0 = codesBytes
    val t0 = System.nanoTime()
    rows.map { case (i, v, l) => (i, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(embDir)
    encodeIn.addData(rows.map { case (i, v, _) => (i, v.toSeq) }: _*)
    encodeQ.processAllAvailable()
    appendMs += (System.nanoTime() - t0) / 1e6
    appendBytes += codesBytes - bytes0
    startServe()
    ingestS += (System.nanoTime() - t0) / 1e9
    appendRows += rows.size
    pending = rows.take(2).map(r => (r._1, r._2))
  }

  def warmup(): Unit = {
    val emb = Tables.embeddings(spark, dir.toString)
    // recall@10 of the served operator vs exact search, fixed probes
    val probes = probeQueries(1000000L, 32)
    val codes = spark.read.parquet(codesDir)
    val ann = Similarity.pqTopKFromCodesBatch(codes, emb, "vec_id", "embedding", probes, books, K, M, CodeK, Rerank)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val exact = Similarity.bruteTopKBatch(emb, "vec_id", "embedding", probes, K)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    recall = probes.map { case (q, _) =>
      ann.getOrElse(q, Array.empty).map(_._2).toSet.intersect(exact(q).map(_._2).toSet).size / K.toDouble
    }.sum / probes.size
    // enough batches for the serving path's hot methods to be compiled
    (0 until 6).foreach(i => batch(probeQueries(2000000L + 100 * i, 8), check = false))
  }

  private def batch(qs: Seq[(Long, Seq[Double])], check: Boolean): Unit = {
    sink.clear()
    def run(): Unit = { serveIn.addData(qs: _*); serveQ.processAllAvailable() }
    if (!check) run()
    else {
      ctx.unit(run())
      val got = sink.toArray.map(_.asInstanceOf[(Long, Long, Int)])
      ctx.check(s"batch ${batches}: every query answered with $K rows",
        qs.forall(q => got.count(_._1 == q._1) == K))
    }
  }

  def iterate(): Unit = {
    if (batches > 0 && batches % 4 == 0) ingest()
    // the vectors just ingested, as queries: each must be its own top hit
    val fresh = pending.map { case (id, v) => (Serve.FreshQid + id, id, v.toSeq.map(_.toDouble)) }
    val qs = fresh.map(f => (f._1, f._3)) ++ probeQueries(nextQid, 8 - fresh.size)
    nextQid += 8
    batch(qs, check = true)
    if (fresh.nonEmpty) {
      val top = sink.toArray.map(_.asInstanceOf[(Long, Long, Int)]).collect { case (q, id, 1) => q -> id }.toMap
      ctx.check(s"ingested vectors ${fresh.map(_._2).mkString(",")} are their own top hit",
        fresh.forall(f => top.get(f._1).contains(f._2)))
      pending = Nil
    }
    batches += 1
  }

  def outputHash: String = "serve"

  def quality: Double = recall

  def traced(tr: Tracer): String = { iterate(); "serve" }

  def isolated(m: Metrics): Unit = {
    val codes = spark.read.parquet(codesDir)
    val emb   = spark.read.parquet(embDir)
    val adc = (0 until 5).map { i =>
      ctx.timeS(Similarity.pqTopKFromCodesBatch(codes, emb, "vec_id", "embedding",
        probeQueries(3000000L + i * 8, 8), books, K, M, CodeK, Rerank).collect())._2 * 1e3
    }
    m.put("textops.adc_batch.ms_p50", Stats.median(adc), "ms")
    val enc = Gen.embeddingsDf(spark, ctx.seed + 2, 0, 4096).persist()
    enc.count()
    val (_, encS) = ctx.timeS(Similarity.pqEncode(enc, "vec_id", "embedding", books, M, CodeK).collect())
    enc.unpersist(false)
    m.put("textops.pq_encode.rows_per_s", 4096 / encS, "rows/s")
  }

  def finish(m: Metrics): Unit = {
    val prog = ctx.rollup.progress.toArray.map(_.asInstanceOf[(String, Map[String, Long])]).filter(_._1 == "serve")
    def p50(k: String) = Stats.median(prog.flatMap(_._2.get(k)).map(_.toDouble).toSeq)
    m.put("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    m.put("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
    m.put("streaming.plan_ms_p50", p50("queryPlanning"), "ms")
    m.put("streaming.wal_ms_p50", p50("walCommit"), "ms")
    m.put("streaming.latest_offset_ms_p50", p50("latestOffset"), "ms")
    m.put("lake.append.ms_p50", Stats.median(appendMs.toSeq), "ms")
    m.put("lake.append.bytes_per_row", if (appendRows == 0) 0.0 else appendBytes.toDouble / appendRows, "B")
    m.put("lake.served_files", codesFiles.length.toDouble, "count")
    m.put("textops.pq_fit.s", fitS, "s")
    val lat = ctx.units.map(_.wallS * 1e3).toSeq
    val (pct, tailV) = Stats.tail(lat)
    m.put("query_ms_p50", Stats.median(lat), "ms")
    m.put("query_ms_tail", tailV, "ms")
    m.put("query_tail_percentile", pct, "pct")
    m.put("ingest_rows_per_s", if (ingestS > 0) appendRows / ingestS else 0.0, "rows/s")
    ctx.check(f"recall@10 $recall%.4f >= floor ${Serve.RecallFloor}", recall >= Serve.RecallFloor)
  }

  def close(): Unit = stopStreams()
}

object Serve {
  val Corpus     = 10000
  val IngestRows = 256
  /** Query ids of ingested-vector probes: FreshQid + vec_id. */
  val FreshQid = 1000000000L
  /** recall@10 read 1.0 on every seed tried when the benchmark was
    * defined; a drop below this floor is a quality regression. */
  val RecallFloor = 0.95
}
