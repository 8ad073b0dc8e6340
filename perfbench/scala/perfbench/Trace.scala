package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters attributed to one span. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill, input, gcMs = 0L
  var planningMs, execMs = 0.0
  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; gcMs += o.gcMs
    planningMs += o.planningMs; execMs += o.execMs
  }
  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "planning_ms" -> planningMs, "exec_ms" -> execMs,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
    "gc_ms" -> gcMs.toDouble)
}

/** One recorded span. `extra` holds layer counts (rows scored, files
  * read, ...) that are set at the boundary where the work happens.
  */
final class Span(val id: Int, val name: String, val parent: Int, val turn: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  val extra = mutable.LinkedHashMap[String, Double]()
  val spark = new SparkCounters
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans in memory around the calls into each layer. Every span
  * sets its own Spark job group, so the listener can attribute jobs,
  * stages and task metrics to the innermost span that launched them;
  * query planning and execution times arrive through a
  * QueryExecutionListener and are attributed by start time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  /** Turn of the operation being traced; -1 during setup. */
  var turn = -1

  private val byGroup = mutable.HashMap[String, SparkCounters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  // (first phase start ms, planning ms, execution ms)
  private val queries = mutable.ArrayBuffer[(Long, Double, Double)]()

  private val listener = new SparkListener {
    private def counters(g: String) = byGroup.getOrElseUpdate(g, new SparkCounters)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("pb-")).foreach { g =>
        counters(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageGroup.get(e.stageId).foreach { g =>
        val c = counters(g)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.gcMs += m.jvmGCTime
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.synchronized {
          queries += ((phases.map(_.startTimeMs).min,
            phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum, durationNs / 1e6))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` as span `name`; the span is recorded even if it throws. */
  def span[A](name: String)(body: Span => A): A = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), turn,
      System.nanoTime, System.currentTimeMillis)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime
      s.endMs = System.currentTimeMillis
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Delivers pending listener events and attaches the counters to spans. */
  def close(): Unit = {
    PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    for ((g, c) <- byGroup) spans(g.stripPrefix("pb-").toInt).spark.add(c)
    // innermost span open at the query's first planning phase
    for ((t, plan, exec) <- queries) {
      val owner = spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.startNs).headOption
      owner.foreach { s => s.spark.planningMs += plan; s.spark.execMs += exec }
    }
  }

  /** Writes every span as one JSON line: name, start, end, parent, turn. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val fields = Seq(
        "\"id\":" + s.id, "\"name\":" + Json.str(s.name), "\"parent\":" + s.parent,
        "\"turn\":" + s.turn, "\"start_ns\":" + s.startNs, "\"end_ns\":" + s.endNs,
        "\"rows_in\":" + s.rowsIn, "\"rows_out\":" + s.rowsOut) ++
        (s.extra.toSeq ++ s.spark.toMap).map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      w.write(fields.mkString("{", ",", "}\n"))
    } finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
