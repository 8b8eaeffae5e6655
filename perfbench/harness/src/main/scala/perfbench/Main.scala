package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options passed down from run.py. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    fixture: String, work: String, out: String)

/** What one run found: operation accounting, checks and metrics. */
final class Result(val workload: String) {
  /** op kind -> (attempted, failed) */
  val ops = mutable.LinkedHashMap.empty[String, (Long, Long)]
  /** check name -> (passed, failed, first failure) */
  val checks = mutable.LinkedHashMap.empty[String, (Long, Long, String)]
  /** Contract metrics: the end-to-end set untraced, the per-layer set traced. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own named metrics, printed for people: (value, unit, samples). */
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Extra JSON fields for run.py (suite counts and oracle SQL). */
  val extra = mutable.LinkedHashMap.empty[String, String]
  private var inOp = false
  private var opFailed = false

  def count(kind: String, ok: Boolean): Unit = {
    val (a, f) = ops.getOrElse(kind, (0L, 0L))
    ops(kind) = (a + 1, if (ok) f else f + 1)
  }

  /** Run one operation. A throw, or a failed check inside it, counts the
    * operation as failed; a throw also leaves no latency sample, because
    * samples are taken inside `body` after the call returns.
    */
  def attempt[A](kind: String)(body: => A): Option[A] = {
    // operations nest (an ingest generation holds its probes): keep the
    // enclosing operation's state and restore it afterwards
    val (outerIn, outerFailed) = (inOp, opFailed)
    inOp = true
    opFailed = false
    try { val a = body; count(kind, ok = !opFailed); Some(a) }
    catch {
      case NonFatal(e) =>
        count(kind, ok = false)
        System.err.println(s"perfbench: $kind failed: $e")
        None
    } finally { inOp = outerIn; opFailed = outerFailed }
  }

  /** An output check. Inside `attempt` it fails that operation; outside,
    * it is an operation of kind "checks" of its own.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (p, f, d) = checks.getOrElse(name, (0L, 0L, ""))
    checks(name) = if (ok) (p + 1, f, d) else (p, f + 1, if (d.isEmpty) detail else d)
    if (!ok) System.err.println(s"perfbench: check $name failed: $detail")
    if (inOp) { if (!ok) opFailed = true }
    else count("checks", ok)
  }

  /** Add another result's operation and check accounting to this one. */
  def absorb(o: Result): Unit = {
    o.ops.foreach { case (kind, (a, f)) =>
      val (a0, f0) = ops.getOrElse(kind, (0L, 0L))
      ops(kind) = (a0 + a, f0 + f)
    }
    o.checks.foreach { case (name, (p, f, d)) =>
      val (p0, f0, d0) = checks.getOrElse(name, (0L, 0L, ""))
      checks(name) = (p0 + p, f0 + f, if (d0.isEmpty) d else d0)
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Double, unit: String, n: Int): Unit = report(name) = (value, unit, n)

  def toJson: String = {
    def m3(t: (Double, String)) = Json.obj(Seq("value" -> Json.num(t._1), "unit" -> Json.str(t._2)))
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> Json.num(ops.values.map(_._1).sum.toDouble),
      "failed" -> Json.num(ops.values.map(_._2).sum.toDouble),
      "ops" -> Json.obj(ops.toSeq.map { case (k, (a, f)) =>
        k -> Json.obj(Seq("attempted" -> Json.num(a.toDouble), "failed" -> Json.num(f.toDouble)))
      }),
      "checks" -> Json.obj(checks.toSeq.map { case (n, (p, f, d)) =>
        n -> Json.obj(Seq("passed" -> Json.num(p.toDouble), "failed" -> Json.num(f.toDouble),
          "detail" -> Json.str(d)))
      }),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> m3(v) }),
      "report" -> Json.obj(report.toSeq.map { case (k, (v, u, n)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "n" -> Json.num(n)))
      })) ++ extra.toSeq)
  }
}

object Main {
  val workloads: Seq[String] = Seq("suite", "serve", "ingest")
  val cores = 4

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv.getOrElse("fixture", ""), kv("work"), kv("out"))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val r = new Result(o.workload)
    o.workload match {
      case "suite" => Suite.run(o, r)
      case "serve" => Serve.run(o, r)
      case "ingest" => Ingest.run(o, r)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), r.toJson + "\n")
  }

  /** The session every workload uses: Bench's settings on local[4], with all
    * scratch space inside the work directory.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }
}

/** JVM counters read at phase boundaries: GC time and peak heap. */
final class Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gc0 = gcMs
  def reset(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}
