package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Chunker, IvfIndex, Prompt, TopK}
import graft.pipelines.{Embedder, IndexBuild, MockEmbedder, Rag}

/** The embedding model's stand-in for retrieval: a UDF over
  * [[Gen.Mixture.vector]], so the vectors searched form a Gaussian mixture.
  */
final class MixtureEmbedder(mix: Gen.Mixture) extends Embedder with Serializable {
  val dim: Int = mix.dim
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val m = mix
    df.withColumn(outCol, udf((s: String) => m.vector(s)).apply(col(textCol)))
  }
}

/** `retrieve`: both halves of the paper on one corpus. Setup is the batch
  * half: `IndexBuild.run` (Chunker → MockEmbedder → parquet), then the
  * stored chunks embedded by the mixture stand-in and persisted as the
  * vector index, and `IvfIndex.publishVersion` over it. The measured
  * operations are the query half, one client in a closed loop over the
  * query set. Three of every four turns take the brute-force path
  * (`Rag.answer` over the persisted index); the fourth takes the IVF path
  * (`nearestClusters` → `probe` of the cluster-partitioned parquet →
  * `TopK.nearest` → `Prompt`), which costs about three brute-force turns.
  */
final class RetrieveWorkload(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val mainPath = "brute"
  val nDocs = 6000
  val chunkLen = 100
  val dim = 64
  val nComp = 32
  val sigma = 0.5
  val nlist = 64
  val nprobe = 4
  val nQueries = 200
  val k = 10

  private val mix = new Gen.Mixture(seed, dim, nComp, sigma)
  private val embedder = new MixtureEmbedder(mix)
  private val queries = Array.tabulate(nQueries)(mix.queryText)
  private val indexDir = work.resolve("index")
  private val ivfRoot = work.resolve("ivf")
  private def ivfIndexDir = ivfRoot.resolve("v1/index").toString
  private var docs: DataFrame = _
  private var index: DataFrame = _
  private var seeds: DataFrame = _
  private val buildMs = ArrayBuffer[Double]()
  // the corpus' chunks on the driver, in vec_id order: vec_id = doc_id * 1000 + chunk_idx
  private lazy val chunks: Array[(Long, String)] =
    (0 until nDocs).toArray.flatMap { i =>
      Chunker.chunkText(mix.docText(i), chunkLen).zipWithIndex.map { case (c, j) => (i * 1000L + j, c) }
    }
  private var textBytes = 0L
  private var indexBytes = 0L
  // per query: expected prompt of each path and the probed clusters
  private var expBrute: Array[String] = _
  private var expIvf: Array[String] = _
  private var expClusters: Array[Seq[Long]] = _
  // per query: (rows, sum of vec_ids) of the probed clusters
  private var expProbe: Array[(Long, Long)] = _
  private var recallAt10 = 0.0

  def layerNames: Seq[String] = RetrieveWorkload.layerNames

  def selfTest(): Boolean = {
    def d(s: Long) = {
      val m = new Gen.Mixture(s, dim, nComp, sigma)
      Gen.digest(300)(i => m.docText(i) + m.vector(m.queryText(i)).mkString(","))
    }
    d(seed) == d(seed) && d(seed) != d(seed + 1)
  }

  /** Codebook: the first chunk of nlist docs spread over the corpus. */
  private def seedRows: Seq[(Long, Seq[Double])] =
    (0 until nlist).map { j =>
      val doc = j * (nDocs / nlist)
      (j.toLong, mix.vector(Chunker.chunkText(mix.docText(doc), chunkLen).head).toSeq)
    }

  def setup(tr: Option[Tracer]): Unit = {
    import spark.implicits._
    val m = mix
    docs = spark.range(0, nDocs).map(i => (i.longValue, m.docText(i))).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    buildMs += timedMs(tr match {
      case None => IndexBuild.run(docs, "doc_id", "text", chunkLen, MockEmbedder, indexDir.toString)
      case Some(t) => tracedBuild(t)
    })._2
    // the vector index: the stored chunks with the stand-in's embeddings
    def vectors() = {
      val v = embedder.embed(spark.read.parquet(indexDir.toString)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("vec_id"), col("chunk")),
        "chunk", "embedding").persist()
      (v, v.count())
    }
    index = tr match {
      case None => vectors()._1
      case Some(t) => t.span("perfbench.retrieve.embedIndex") { s =>
        val (v, n) = vectors(); s.rowsIn = n; s.rowsOut = n; v
      }
    }
    seeds = seedRows.toDF("cluster", "cv").persist()
    seeds.count()
    tr match {
      case None => IvfIndex.publishVersion(index, seeds, ivfRoot.toString, "v1")
      case Some(t) => tracedPublish(t)
    }
  }

  /** `IndexBuild.run` split at its layers: chunk, embed, write. */
  private def tracedBuild(tr: Tracer): Unit = tr.span("pipelines.IndexBuild.run") { run =>
    val (chunked, n) = tr.span("operators.Chunker.chunk") { s =>
      val c = Chunker.chunk(docs.select(col("doc_id"), col("text")), "text", chunkLen)
        .persist(StorageLevel.MEMORY_ONLY)
      s.rowsIn = nDocs; s.rowsOut = c.count(); (c, s.rowsOut)
    }
    val emb = tr.span("pipelines.Embedder.embed") { s =>
      val e = MockEmbedder.embed(chunked, "chunk", "embedding").persist(StorageLevel.MEMORY_ONLY)
      s.rowsIn = n; s.rowsOut = e.count(); e
    }
    tr.span("pipelines.IndexBuild.write") { s =>
      emb.write.mode("overwrite").parquet(indexDir.toString)
      s.rowsIn = n; s.rowsOut = n
      s.extra("bytes_written") = LocalFiles.dataBytes(indexDir).toDouble
    }
    emb.unpersist(); chunked.unpersist()
    run.rowsIn = nDocs; run.rowsOut = n
  }

  /** `IvfIndex.publishVersion` with its assignment forced first. */
  private def tracedPublish(tr: Tracer): Unit = {
    val n = index.count()
    val asg = tr.span("operators.IvfIndex.assign") { s =>
      val a = IvfIndex.assign(index, seeds).localCheckpoint()
      s.rowsIn = n; s.rowsOut = a.count()
      s.extra("l2_evals") = n.toDouble * nlist
      a
    }
    tr.span("operators.IvfIndex.publishVersion") { s =>
      IvfIndex.publishVersion(index, seeds, ivfRoot.toString, "v1", Some(asg))
      s.rowsIn = n; s.rowsOut = n
      s.extra("files_written") = LocalFiles.dataFileCount(ivfRoot.resolve("v1")).toDouble
    }
  }

  val warmupOps = 8

  def inputDigest(): String = frameDigest(docs)

  def teardown(): Unit = {
    Seq(docs, index, seeds).foreach(_.unpersist(blocking = true))
    LocalFiles.delete(indexDir)
    LocalFiles.delete(ivfRoot)
  }

  /** Cosine distance with the engine kernel's operation order (query
    * norm hoisted, accumulators summed in index order), so the reference
    * ranks bit-identically.
    */
  private def cosDist(x: Array[Double], q: Array[Double], qNorm: Double): Double = {
    var ab = 0.0; var aa = 0.0; var i = 0
    while (i < x.length) { ab += x(i) * q(i); aa += x(i) * x(i); i += 1 }
    1.0 - ab / (math.sqrt(aa) * qNorm)
  }

  /** The IVF kernel's integer-quantized squared L2 (scale 2^45). */
  private def qL2(a: Array[Double], b: Array[Double]): Long = {
    val scale = java.lang.Math.scalb(1.0, 45)
    var acc = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += java.lang.Math.floor(d * d * scale).toLong; i += 1 }
    acc
  }

  /** Positions in `chunks` of the k nearest of `cand` by (distance, vec_id). */
  private def exactTopK(vecs: Array[Array[Double]], cand: Int => Boolean, q: Array[Double]): Array[Int] = {
    var qq = 0.0; q.foreach(v => qq += v * v)
    val qNorm = math.sqrt(qq)
    val order = Ordering.by[(Double, Long, Int), (Double, Long)](e => (e._1, e._2))
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int)](order)
    var i = 0
    while (i < vecs.length) {
      if (cand(i)) {
        val e = (cosDist(vecs(i), q, qNorm), chunks(i)._1, i)
        if (heap.size < k) heap.enqueue(e)
        else if (order.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
      }
      i += 1
    }
    heap.dequeueAll[(Double, Long, Int)].reverse.map(_._3).toArray
  }

  private def prompt(pos: Seq[Int], q: String): String =
    Prompt.SystemMsgStart +
      pos.zipWithIndex.map { case (p, r) =>
        s"Context ${r + 1}:\n${chunks(p)._2}${Prompt.ContextSep}"
      }.mkString +
      Prompt.conversationWithUserTurn("", q)

  private def chunkAgg(df: DataFrame): Row =
    df.agg(count(lit(1)),
      sum(xxhash64(col("doc_id"), col("chunk_idx"), col("chunk")).cast("decimal(20,0)")),
      sum(xxhash64(col("doc_id"), col("chunk_idx"), col("embedding")).cast("decimal(20,0)"))).head()

  private def vecIdAgg(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(col("vec_id")),
      sum(xxhash64(col("vec_id")).cast("decimal(20,0)"))).head()

  /** Checks the batch half's outputs once: the stored index holds exactly
    * the rows of `Chunker.chunkViaUdf` + `MockEmbedder` (count and sums of
    * row hashes) and the IVF index holds each vector id once. Then
    * computes every query's expected prompts on the driver.
    */
  def reference(): Seq[String] = {
    val problems = ArrayBuffer[String]()
    val expected = MockEmbedder.embed(
      Chunker.chunkViaUdf(docs.select("doc_id", "text"), "text", chunkLen), "chunk", "embedding")
    val want = chunkAgg(expected)
    val got = chunkAgg(spark.read.parquet(indexDir.toString))
    if (got != want) problems += s"stored index $got != Chunker.chunkViaUdf + MockEmbedder $want"
    val wantIds = vecIdAgg(expected.select((col("doc_id") * 1000 + col("chunk_idx")).as("vec_id")))
    val ivfIds = vecIdAgg(spark.read.parquet(ivfIndexDir))
    if (ivfIds != wantIds) problems += s"ivf index $ivfIds does not hold each of $wantIds once"
    textBytes = docs.agg(sum(length(col("text")))).head().getLong(0)
    indexBytes = LocalFiles.dataBytes(indexDir)

    val vecs = chunks.map(c => mix.vector(c._2))
    if (vecs.length != want.getLong(0)) problems += s"driver chunks ${vecs.length} != ${want.getLong(0)}"
    val cv = seedRows.map(_._2.toArray).toArray
    val cluster = new Array[Int](vecs.length)
    java.util.stream.IntStream.range(0, vecs.length).parallel().forEach { i =>
      var best = 0; var bestD = Long.MaxValue; var j = 0
      while (j < nlist) { val d = qL2(vecs(i), cv(j)); if (d < bestD) { bestD = d; best = j }; j += 1 }
      cluster(i) = best
    }
    expBrute = new Array(nQueries); expIvf = new Array(nQueries); expClusters = new Array(nQueries)
    expProbe = new Array(nQueries)
    val recall = new Array[Double](nQueries)
    java.util.stream.IntStream.range(0, nQueries).parallel().forEach { j =>
      val q = mix.vector(queries(j))
      val exact = exactTopK(vecs, _ => true, q)
      val order = (0 until nlist).sortBy(c => (qL2(cv(c), q), c)).take(nprobe)
      val probed = order.toSet
      val ivf = exactTopK(vecs, i => probed(cluster(i)), q)
      expBrute(j) = prompt(exact.toSeq, queries(j))
      expIvf(j) = prompt(ivf.toSeq, queries(j))
      expClusters(j) = order.map(_.toLong)
      val inProbed = chunks.indices.filter(i => probed(cluster(i)))
      expProbe(j) = (inProbed.size.toLong, inProbed.map(chunks(_)._1).sum)
      recall(j) = ivf.toSet.intersect(exact.toSet).size.toDouble / k
    }
    recallAt10 = recall.sum / nQueries
    problems.toSeq
  }

  private def brute(q: String): String =
    Rag.answer(spark, index, "vec_id", "chunk", "embedding", embedder, q, "", k)
      .head().getString(0)

  private def ivf(q: String): (Seq[Long], String) = {
    val qv = Rag.embedQuery(spark, embedder, q)
    val cl = IvfIndex.nearestClusters(seeds, qv, nprobe)
    val topk = TopK.nearest(IvfIndex.probe(spark, ivfIndexDir, cl), "embedding", "vec_id", qv, k)
    (cl, Prompt.assembleByOrder(topk, Seq(col("dist"), col("vec_id")), "chunk", "", q)
      .head().getString(0))
  }

  val pathCycle = 4
  private def isIvf(turn: Int) = turn % pathCycle == pathCycle - 1

  /** The IVF turn's check: the probed clusters, the probe's rows (count
    * and sum of ids, re-read untimed) and the prompt.
    */
  private def ivfOk(j: Int, cl: Seq[Long], p: String): Boolean =
    cl == expClusters(j) && p == expIvf(j) && {
      val r = IvfIndex.probe(spark, ivfIndexDir, cl).agg(count(lit(1)), sum(col("vec_id"))).head()
      (r.getLong(0), r.getLong(1)) == expProbe(j)
    }

  def op(turn: Int): Op = {
    val j = turn % nQueries
    if (!isIvf(turn)) {
      val (p, ms) = timedMs(brute(queries(j)))
      Op("brute", ms, 1, p == expBrute(j), s"brute prompt of query $j")
    } else {
      val ((cl, p), ms) = timedMs(ivf(queries(j)))
      Op("ivf", ms, 1, ivfOk(j, cl, p), s"ivf probe or prompt of query $j")
    }
  }

  def tracedOp(turn: Int, tr: Tracer): Op = {
    tr.turn = turn
    val j = turn % nQueries
    val q = queries(j)
    val embed = () => tr.span("pipelines.Rag.embedQuery") { s =>
      val v = Rag.embedQuery(spark, embedder, q); s.rowsIn = 1; s.rowsOut = 1; v
    }
    def topK(db: DataFrame, rows: Long, qv: Seq[Double]): DataFrame =
      tr.span("operators.TopK.nearest") { s =>
        val t = TopK.nearest(db, "embedding", "vec_id", qv, k).persist()
        s.rowsIn = rows; s.rowsOut = t.count(); s.extra("rows_scored") = rows.toDouble
        t
      }
    def assemble(topk: DataFrame): String =
      tr.span("operators.Prompt.assembleByOrder") { s =>
        val p = Prompt.assembleByOrder(topk, Seq(col("dist"), col("vec_id")), "chunk", "", q)
          .head().getString(0)
        s.rowsIn = k; s.rowsOut = 1; topk.unpersist(); p
      }
    if (!isIvf(turn)) {
      val (p, ms) = timedMs(tr.span("pipelines.Rag.answer") { _ =>
        val qv = embed()
        assemble(topK(index, chunks.length, qv))
      })
      Op("brute", ms, 1, p == expBrute(j), s"brute prompt of query $j")
    } else {
      var probeSpan: Span = null
      val ((cl, p), ms) = timedMs(tr.span("perfbench.retrieve.ivf") { _ =>
        val qv = embed()
        val cl = tr.span("operators.IvfIndex.nearestClusters") { s =>
          val c = IvfIndex.nearestClusters(seeds, qv, nprobe); s.rowsIn = nlist; s.rowsOut = c.size; c
        }
        val (probed, rows) = tr.span("operators.IvfIndex.probe") { s =>
          probeSpan = s
          val p = IvfIndex.probe(spark, ivfIndexDir, cl).persist()
          s.rowsIn = chunks.length; s.rowsOut = p.count(); (p, s.rowsOut)
        }
        probeSpan.extra("files_read") = Observed.scannedFiles(probed).toDouble
        val p = assemble(topK(probed, rows, qv))
        probed.unpersist()
        (cl, p)
      })
      probeSpan.extra("rows_scored") = probeSpan.rowsOut.toDouble
      Op("ivf", ms, 1, ivfOk(j, cl, p), s"ivf probe or prompt of query $j")
    }
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    val m = Layers.spanMetrics(tr, layerNames)
    val topk = tr.spans.filter(_.name == "operators.TopK.nearest")
    m ++ Map(
      "pipelines.IndexBuild.write.bytes_per_text_byte" ->
        m("pipelines.IndexBuild.write.bytes_written") / textBytes,
      "functions.CosineDistance.rows_per_s" ->
        topk.map(_.extra("rows_scored")).sum / (topk.map(_.ms).sum / 1000),
      "operators.IvfIndex.probe.recall_at_10" -> recallAt10)
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    def ms(path: String) = ops.filter(o => o.ok && o.path == path).map(_.ms)
    Seq(("build_docs_per_s", nDocs / (Stats.median(buildMs.toSeq) / 1000), "1/s"),
      ("index_bytes_per_text_byte", indexBytes.toDouble / textBytes, "ratio"),
      ("retrieve_p50_ms", Stats.median(ms("brute")), "ms"),
      ("retrieve_p95_ms", Stats.percentile(ms("brute"), 95), "ms"),
      ("ivf_p50_ms", Stats.median(ms("ivf")), "ms"),
      ("ivf_p95_ms", Stats.percentile(ms("ivf"), 95), "ms"),
      ("ivf_recall_at_10", recallAt10, "frac"),
      ("brute_turns", ms("brute").size.toDouble, "count"),
      ("ivf_turns", ms("ivf").size.toDouble, "count"))
  }
}

object RetrieveWorkload {
  val layerNames: Seq[String] =
    Seq("operators.Chunker.chunk", "pipelines.Embedder.embed", "pipelines.IndexBuild.write",
      "operators.IvfIndex.assign", "operators.IvfIndex.publishVersion",
      "pipelines.Rag.embedQuery", "operators.TopK.nearest", "operators.Prompt.assembleByOrder",
      "operators.IvfIndex.nearestClusters", "operators.IvfIndex.probe")
      .flatMap(s => Seq("ms", "calls", "rows_in", "rows_out").map(m => s"$s.$m")) ++
      Seq("pipelines.IndexBuild.write.bytes_written", "pipelines.IndexBuild.write.bytes_per_text_byte",
        "operators.IvfIndex.assign.l2_evals", "operators.IvfIndex.publishVersion.files_written",
        "operators.TopK.nearest.rows_scored", "functions.CosineDistance.rows_per_s",
        "operators.IvfIndex.probe.files_read", "operators.IvfIndex.probe.rows_scored",
        "operators.IvfIndex.probe.recall_at_10")
}
