package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{ConnectedComponents, Dedup}

/** `dedup`: near-duplicate curation. One operation runs the whole chain
  * over the corpus: `shingleSets` → `minhashFromSets` → `lshCandidates`
  * → `jaccardForPairsSets` (≥ 0.5) → `ConnectedComponents.components`.
  * The Zipf cluster sizes make hot LSH buckets and more verified edges
  * than `ConnectedComponents.DriverMaxEdges`, so the distributed loop runs.
  */
final class DedupWorkload(spark: SparkSession, seed: Long) extends Workload {
  val mainPath = "dedup"
  val threshold = 0.5
  private def corpusOf(s: Long) =
    new Gen.DedupCorpus(s, nDocs = 20000, top = 450, a = 1.1, nClusters = 1500)
  private val corpus = corpusOf(seed)
  private var docs: DataFrame = _
  private val shingleCache = scala.collection.mutable.HashMap[Long, Set[String]]()
  private var pairCount = Option.empty[Long]
  private var pairRecall = 0.0

  def layerNames: Seq[String] = DedupWorkload.layerNames

  def selfTest(): Boolean = {
    def d(s: Long) = {
      val c = corpusOf(s)
      Gen.digest(300)(i => c.text(i * 7L))
    }
    d(seed) == d(seed) && d(seed) != d(seed + 1)
  }

  def setup(tr: Option[Tracer]): Unit = {
    import spark.implicits._
    val c = corpus
    docs = spark.range(0, c.nDocs).map(i => (i.longValue, c.text(i))).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
  }

  // the second pass still runs ~10% faster than the first
  val warmupOps = 2
  val pathCycle = 1

  def inputDigest(): String = frameDigest(docs)

  def teardown(): Unit = docs.unpersist(blocking = true)

  def reference(): Seq[String] = Nil

  private def sets = Dedup.shingleSets(docs, "doc_id", "text", 3)

  private def verified(cand: DataFrame, s: DataFrame): DataFrame =
    Dedup.jaccardForPairsSets(cand, s, "doc_id")
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")

  private def run(): (DataFrame, DataFrame) = {
    val s = sets
    val pairs = verified(Dedup.lshCandidates(Dedup.minhashFromSets(s, "doc_id"), "doc_id"), s)
      .localCheckpoint()
    val comps = ConnectedComponents.components(pairs, "ida", "idb")
    comps.count()
    (pairs, comps)
  }

  /** Word-3-shingle set of a document, computed on the driver from the
    * generator (independent of the engine's hashing).
    */
  private def shingles(id: Long): Set[String] =
    shingleCache.getOrElseUpdate(id, {
      val t = corpus.text(id).split(" ", -1)
      t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    })

  /** Every pair re-verifies to Jaccard ≥ 0.5 on the driver; components
    * equal a driver union-find over the same pairs; the pair count repeats.
    */
  private def check(pairs: DataFrame, comps: DataFrame): (Boolean, String) = {
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for ((a, b, j) <- ps) {
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = sa.count(sb)
      val jd = inter.toDouble / (sa.size + sb.size - inter)
      if (!(a < b) || jd < threshold || math.abs(jd - j) > 1e-9)
        return (false, s"pair ($a, $b) reported jaccard $j, driver $jd")
    }
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((a, b, _) <- ps) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val expected = parent.keys.map(id => id -> find(id)).toMap
    val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (got != expected)
      return (false, s"components differ from union-find (${got.size} vs ${expected.size} nodes)")
    if (pairCount.exists(_ != ps.length)) return (false, s"${ps.length} pairs != ${pairCount.get}")
    pairCount = Some(ps.length.toLong)
    val planted = ps.count { case (a, b, _) =>
      val c = corpus.clusterOf(a); c >= 0 && c == corpus.clusterOf(b)
    }
    pairRecall = planted.toDouble / corpus.plantedPairs
    (true, "")
  }

  private def finish(ms: Double, pairs: DataFrame, comps: DataFrame): Op = {
    val (ok, note) = check(pairs, comps)
    Op("dedup", ms, corpus.nDocs, ok, note)
  }

  def op(turn: Int): Op = {
    val ((pairs, comps), ms) = timedMs(run())
    finish(ms, pairs, comps)
  }

  def tracedOp(turn: Int, tr: Tracer): Op = {
    tr.turn = turn
    def forced(name: String, rowsIn: Long)(df: => DataFrame): (DataFrame, Span) =
      tr.span(name) { s =>
        val d = df.persist(StorageLevel.MEMORY_ONLY)
        s.rowsIn = rowsIn; s.rowsOut = d.count(); (d, s)
      }
    val ((pairs, comps, s, sig, cand, lsh), ms) = timedMs(tr.span("perfbench.dedup.pass") { _ =>
      val (s, ss) = forced("operators.Dedup.shingleSets", corpus.nDocs)(sets)
      val (sig, _) = forced("operators.Dedup.minhashFromSets", ss.rowsOut)(Dedup.minhashFromSets(s, "doc_id"))
      val (cand, lsh) = forced("operators.Dedup.lshCandidates", ss.rowsOut)(Dedup.lshCandidates(sig, "doc_id"))
      val pairs = tr.span("operators.Dedup.jaccardForPairsSets") { sp =>
        val p = verified(cand, s).localCheckpoint()
        sp.rowsIn = lsh.rowsOut; sp.rowsOut = p.count(); p
      }
      val comps = tr.span("operators.ConnectedComponents.components") { sp =>
        // the path is the one the engine logs: "[graft.cc] ... distributed
        // hash-to-min loop" or "... driver union-find"; -1 if it logs neither
        val (c, log) = Observed.stderrLines(ConnectedComponents.components(pairs, "ida", "idb"))
        val edges = pairs.count()
        sp.rowsIn = edges; sp.rowsOut = c.count()
        sp.extra("edges") = edges.toDouble
        val cc = log.filter(_.contains("[graft.cc]"))
        sp.extra("path") =
          if (cc.exists(_.contains("distributed"))) 1.0
          else if (cc.exists(_.contains("driver"))) 0.0
          else -1.0
        c
      }
      (pairs, comps, s, sig, cand, lsh)
    })
    // largest LSH bucket (4 bands of 2 signature values), outside the spans
    lsh.extra("candidates") = lsh.rowsOut.toDouble
    lsh.extra("max_bucket") = (0 until 4).map { b =>
      sig.groupBy(col(s"m${2 * b}"), col(s"m${2 * b + 1}")).count()
        .agg(max(col("count"))).head().getLong(0)
    }.max.toDouble
    cand.unpersist(); sig.unpersist(); s.unpersist()
    finish(ms, pairs, comps)
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    val m = Layers.spanMetrics(tr, layerNames)
    m ++ Map(
      "operators.Dedup.verified_per_candidate" ->
        m("operators.Dedup.jaccardForPairsSets.rows_out") / m("operators.Dedup.lshCandidates.candidates"),
      "operators.Dedup.pair_recall" -> pairRecall)
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val ok = ops.filter(_.ok)
    Seq(("dedup_docs_per_s", ok.map(_.items).sum / (ok.map(_.ms).sum / 1000), "1/s"),
      ("dedup_pair_recall", pairRecall, "frac"),
      ("planted_pairs", corpus.plantedPairs.toDouble, "count"),
      ("verified_pairs", pairCount.getOrElse(0L).toDouble, "count"),
      ("dedup_passes", ok.size.toDouble, "count"))
  }
}

object DedupWorkload {
  val layerNames: Seq[String] =
    Seq("operators.Dedup.shingleSets", "operators.Dedup.minhashFromSets",
      "operators.Dedup.lshCandidates", "operators.Dedup.jaccardForPairsSets",
      "operators.ConnectedComponents.components")
      .flatMap(s => Seq("ms", "calls", "rows_in", "rows_out").map(m => s"$s.$m")) ++
      Seq("operators.Dedup.lshCandidates.candidates", "operators.Dedup.lshCandidates.max_bucket",
        "operators.Dedup.verified_per_candidate", "operators.Dedup.pair_recall",
        "operators.ConnectedComponents.components.edges",
        "operators.ConnectedComponents.components.path")
}
