package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** One measured operation. `path` names the code path it took (a
  * workload may alternate between two), `items` is the work it
  * completed (documents, turns), and `ok` is the verdict of its output
  * check, which runs outside the timed interval.
  */
final case class Op(path: String, ms: Double, items: Long, ok: Boolean, note: String = "")

/** A workload drives the engine's public functions on generated inputs. */
trait Workload {
  /** Path whose median latency is the workload's `p50_ms`. */
  def mainPath: String
  /** Per-layer metric names this workload reports in a traced run. */
  def layerNames: Seq[String]

  /** Generator self-test: the same seed repeats, another seed differs. */
  def selfTest(): Boolean
  /** Generates the inputs, fills the caches and builds the indexes; with
    * the warm-up operations that follow, timed as `setup_s`. Under a
    * tracer the layers it runs are recorded as spans.
    */
  def setup(tr: Option[Tracer]): Unit
  /** Operations (turns 0 until warmupOps) run once after setup so JIT and
    * codegen caches are warm; measured turns follow them, so a retrieve
    * turn never repeats a question the warm-up asked.
    */
  def warmupOps: Int
  /** Consecutive turns that take every path of the workload's mix once. */
  def pathCycle: Int
  /** Digest of the generated inputs as the engine holds them (untimed). */
  def inputDigest(): String
  /** Drops what `setup` built so it can run again. */
  def teardown(): Unit
  /** Expected outputs for the checks, computed once after setup (untimed);
    * returns the problems found in what setup built.
    */
  def reference(): Seq[String]
  /** One operation written as a user writes it; the check is untimed. */
  def op(turn: Int): Op
  /** The same operation split at layer boundaries, each layer's output
    * forced inside its span.
    */
  def tracedOp(turn: Int, tr: Tracer): Op
  /** Layer metrics from the recorded spans. */
  def layerMetrics(tr: Tracer): Map[String, Double]
  /** The workload's own end-to-end figures for the human-readable report. */
  def report(ops: Seq[Op]): Seq[(String, Double, String)]

  // ---- helpers shared by the workloads ----

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = body
    (a, (System.nanoTime - t0) / 1e6)
  }

  /** Order-independent digest of a frame's rows. */
  def frameDigest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(20,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}

object LocalFiles {
  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
        }.toList
      } finally s.close()
    }
  /** Bytes in the data files (part-*) under `dir`. */
  def dataBytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum
  /** Number of data files (part-*) under `dir`. */
  def dataFileCount(dir: Path): Long = dataFiles(dir).size.toLong

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.reverse.foreach(Files.delete)
      } finally s.close()
    }
}

/** What the engine did, as Spark or the engine itself reports it. */
object Observed {
  /** Files the file scans of `df`'s executed plan read (their `numFiles`
    * metric, after partition pruning). Looks through adaptive plans,
    * query stages and the plan that filled a persisted frame's cache;
    * read it after an action on `df`.
    */
  def scannedFiles(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanLike => f.metrics("numFiles").value
    }.sum
  }

  /** Runs `body` with standard error copied into a buffer; returns what
    * it printed there, line by line, along with its result.
    */
  def stderrLines[A](body: => A): (A, Seq[String]) = {
    val buf = new ByteArrayOutputStream
    val orig = System.err
    val tee = new PrintStream(new OutputStream {
      def write(b: Int): Unit = { buf.synchronized(buf.write(b)); orig.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        buf.synchronized(buf.write(b, off, len)); orig.write(b, off, len)
      }
    }, true)
    System.setErr(tee)
    val a = try body finally { tee.flush(); System.setErr(orig) }
    (a, buf.synchronized(buf.toString).split("\n").toSeq)
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val pos = p / 100.0 * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
