package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Per-layer metric names and their computation from spans. */
object Layers {
  val workloads = Seq("retrieve", "dedup")
  val sparkCounters = Seq("jobs", "stages", "tasks", "planning_ms", "exec_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes", "gc_ms")

  def sparkNames(workload: String): Seq[String] = sparkCounters.map(c => s"spark.$workload.$c")

  /** Every per-layer metric a traced run prints; a workload prints 0 for
    * the layers it does not run.
    */
  val all: Seq[String] =
    RetrieveWorkload.layerNames ++ DedupWorkload.layerNames ++
      workloads.flatMap(sparkNames) :+ "trace_overhead_frac"

  /** `<span>.<metric>` from the spans named `<span>`: `ms` is the median
    * per call, `calls` the count, and row counts and extras the median
    * per call.
    */
  def spanMetrics(tr: Tracer, names: Seq[String]): Map[String, Double] = {
    val byName = tr.spans.groupBy(_.name)
    names.flatMap { n =>
      val cut = n.lastIndexOf('.')
      byName.get(n.substring(0, cut)).flatMap { ss =>
        n.substring(cut + 1) match {
          case "ms" => Some(Stats.median(ss.map(_.ms).toSeq))
          case "calls" => Some(ss.size.toDouble)
          case "rows_in" => Some(Stats.median(ss.map(_.rowsIn.toDouble).toSeq))
          case "rows_out" => Some(Stats.median(ss.map(_.rowsOut.toDouble).toSeq))
          case x if ss.forall(_.extra.contains(x)) => Some(Stats.median(ss.map(_.extra(x)).toSeq))
          case _ => None
        }
      }.map(n -> _)
    }.toMap
  }

  /** Spark counters of the traced operations (not of setup), per operation. */
  def sparkMetrics(tr: Tracer, workload: String, ops: Int): Map[String, Double] = {
    val total = new SparkCounters
    tr.spans.filter(_.turn >= 0).foreach(s => total.add(s.spark))
    total.toMap.map { case (k, v) => s"spark.$workload.$k" -> v / ops }.toMap
  }
}

/** Runs one workload: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --trace-dir <dir>`. Prints a readable
  * report, then one JSON line of metric values as the last line.
  */
object Main {
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the CLI's session conf (graft.Main), with scratch space kept in the work dir
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  var checkS = 0.0

  /** Runs `f` on turns `first`, `first` + 1, ... until the operations' own
    * time adds up to `budgetS` seconds (checks between them are not
    * counted), and at least `minOps` times.
    */
  def loop(budgetS: Double, first: Int, minOps: Int = 1)(f: Int => Op): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    val wallEnd = System.nanoTime + (budgetS * 4e9).toLong
    var busyMs = 0.0
    var turn = first
    while ((ops.size < minOps || busyMs < budgetS * 1000 && System.nanoTime < wallEnd) &&
        !(ops.size >= 3 && ops.takeRight(3).forall(!_.ok))) {
      val t0 = System.nanoTime
      val o = try f(turn) catch {
        case NonFatal(e) => Op("error", (System.nanoTime - t0) / 1e6, 0, ok = false, e.toString)
      }
      checkS += (System.nanoTime - t0) / 1e9 - o.ms / 1000
      ops += o
      busyMs += o.ms
      turn += 1
    }
    ops.toSeq
  }

  /** Storage memory held once unreferenced blocks have been cleaned. */
  def storageMb(spark: SparkSession): Double = {
    for (_ <- 0 until 2) { System.gc(); Thread.sleep(150) }
    val (max, remaining) = spark.sparkContext.getExecutorMemoryStatus.values.head
    (max - remaining) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath

    val t0 = System.nanoTime
    val spark = session(work)
    val sessionS = (System.nanoTime - t0) / 1e9
    val w: Workload = name match {
      case "retrieve" => new RetrieveWorkload(spark, seed, work.resolve("retrieve"))
      case "dedup" => new DedupWorkload(spark, seed)
    }
    val problems = ArrayBuffer[String]()
    if (!w.selfTest()) problems += "generator self-test: seeds do not repeat or do not differ"

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val setupS = ArrayBuffer[Double]()
    val digests = ArrayBuffer[String]()
    for (r <- 0 until (if (trace) 1 else 3)) {
      if (r > 0) w.teardown()
      val t = System.nanoTime
      w.setup(tracer)
      setupS += (System.nanoTime - t) / 1e9
      val td = System.nanoTime
      digests += w.inputDigest()
      checkS += (System.nanoTime - td) / 1e9
    }
    if (digests.distinct.size != 1) problems += s"inputs differ between setups: ${digests.mkString(" ")}"
    val tr0 = System.nanoTime
    problems ++= w.reference()
    val referenceS = (System.nanoTime - tr0) / 1e9
    val warm = (0 until w.warmupOps).map(w.op)
    val warmupS = warm.map(_.ms).sum / 1000
    warm.filterNot(_.ok).foreach(o => problems += s"warm-up ${o.path}: ${o.note}")

    val report = ArrayBuffer[(String, Double, String)]()
    val values = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ops =
      if (!trace) {
        val ops = loop(seconds, w.warmupOps)(w.op)
        val ok = ops.filter(_.ok)
        values("setup_s") = sessionS + Stats.median(setupS.toSeq) + warmupS
        values("p50_ms") = Stats.median(ok.filter(_.path == w.mainPath).map(_.ms))
        values("items_per_s") = ok.map(_.items).sum / (ok.map(_.ms).sum / 1000)
        values("storage_mb") = storageMb(spark)
        report ++= w.report(ops)
        ops
      } else {
        // untraced and traced operations alternate, one path cycle each, so
        // both halves run in the same warm-up state; each gets three cycles
        // at least
        val tr = tracer.get
        def isTraced(t: Int) = (t - w.warmupOps) / w.pathCycle % 2 == 1
        val all = loop(seconds, w.warmupOps, minOps = 6 * w.pathCycle) { t =>
          if (isTraced(t)) w.tracedOp(t, tr) else w.op(t)
        }
        val (traced, plain) = all.indices.partition(i => isTraced(w.warmupOps + i)) match {
          case (ti, pi) => (ti.map(all), pi.map(all))
        }
        tr.close()
        tr.write(Paths.get(opt("trace-dir")).resolve(s"$name-seed$seed.jsonl"))
        val layer = w.layerMetrics(tr) ++ Layers.sparkMetrics(tr, name, traced.size)
        val missing = w.layerNames.filterNot(layer.contains)
        if (missing.nonEmpty) problems += s"layers not measured: ${missing.mkString(", ")}"
        // mean operation time per path, weighted by the untraced run's path mix
        def meanMs(os: Seq[Op], p: String) = Stats.mean(os.filter(o => o.ok && o.path == p).map(_.ms))
        val mix = plain.filter(_.ok).groupBy(_.path).map { case (p, os) => p -> os.size.toDouble }
        def total(os: Seq[Op]) = mix.map { case (p, n) => n * meanMs(os, p) }.sum
        values("trace_overhead_frac") = (total(traced) - total(plain)) / total(plain)
        for (n <- Layers.all if n != "trace_overhead_frac") values(n) = layer.getOrElse(n, 0.0)
        all
      }

    ops.filterNot(_.ok).take(5).foreach(o => problems += s"failed ${o.path}: ${o.note}")
    println(s"workload $name  seed $seed  trace ${if (trace) 1 else 0}  " +
      s"cpus ${Runtime.getRuntime.availableProcessors}  operations ${ops.size}  failed ${ops.count(!_.ok)}")
    println(f"  ${"session_start_s"}%-52s ${sessionS}%14.4f s")
    println(f"  ${"setup_reps_s"}%-52s ${setupS.map(s => f"$s%.3f").mkString(" ")}%14s s")
    println(f"  ${"warmup_s"}%-52s ${warmupS}%14.4f s")
    println(f"  ${"reference_s"}%-52s ${referenceS}%14.4f s")
    println(f"  ${"check_s"}%-52s ${checkS}%14.4f s")
    println(f"  ${"wall_s"}%-52s ${(System.nanoTime - t0) / 1e9}%14.4f s")
    report += (("failed_frac", ops.count(!_.ok).toDouble / ops.size, "frac"))
    val own = if (trace) w.layerNames ++ Layers.sparkNames(name) :+ "trace_overhead_frac" else values.keys.toSeq
    for ((k, v, u) <- report) println(f"  $k%-52s $v%14.4f $u")
    for ((p, os) <- ops.groupBy(_.path))
      println(f"  ${"op_ms." + p}%-52s ${os.map(o => f"${o.ms}%.0f").mkString(" ")}")
    for (k <- own) println(f"  $k%-52s ${values(k)}%14.4f")
    problems.foreach(p => println(s"  CHECK FAILED: $p"))

    spark.stop()
    val correct = problems.isEmpty && ops.forall(_.ok)
    println("{\"correct\":" + correct + ",\"attempted\":" + ops.size + ",\"failed\":" +
      ops.count(!_.ok) + ",\"values\":{" +
      values.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",") + "}}")
  }
}
