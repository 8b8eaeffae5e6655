package perfbench

import scala.collection.mutable

import graft.{CacheTracker, SparkEntry}

/** Workload `suite`: the `Families.timed` keys of `SparkEntry.queries` in
  * sorted order over the generated fixture, one closed-loop client. One
  * operation is one key: build its DataFrame
  * (`SparkEntry.queries(k)(spark, dir)`), then `count()` it. Set-up ends
  * with one untimed pass, so timed passes run with the JIT, codegen and
  * per-fixture caches warm, as graft.Bench's medians do. Timed passes
  * repeat until the run's seconds are used and at least `timedPasses` ran;
  * each key reports its median over them. Keys
  * of the graph_tables family write persisted state tables; they are the
  * suite's writes, every other key is a read. A timed pass runs each write
  * key `writeReps` times, spread evenly between the reads, so the write
  * metric, a single key's median, rests on samples taken at different
  * moments of the pass rather than on one per pass.
  */
object Suite {
  val timedPasses = 2
  val writeReps = 4

  private final case class KeyTime(key: String, constructS: Double, actionS: Double) {
    def totalS: Double = constructS + actionS
  }

  def run(o: Opts, r: Result): Unit = {
    val family = Families.check(SparkEntry.queries.keySet)
    val ordered = SparkEntry.queries.toSeq.filter(kv => Families.timed(kv._1)).sortBy(_._1)
    val writes = Families.byFamily.toMap.apply("graph_tables").toSet
    val setup0 = System.nanoTime()
    val spark = Main.session(o.work)
    val counts = mutable.LinkedHashMap.empty[String, Vector[Long]]

    def passes(census: Option[Census], trace: Trace, minPasses: Int, seconds: Double, reps: Int = 1)
        : (Seq[Double], Seq[KeyTime]) = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val times = mutable.ArrayBuffer.empty[KeyTime]
      val schedule =
        if (reps == 1) ordered
        else {
          val (ws, rs) = ordered.partition(kv => writes(kv._1))
          rs.grouped(math.ceil(rs.size.toDouble / reps).toInt).toSeq.flatMap(_ ++ ws)
        }
      val t0 = System.nanoTime()
      while (walls.size < minPasses || Main.secs(t0) < seconds) {
        val p0 = System.nanoTime()
        schedule.foreach { case (key, fn) =>
          trace.op = key
          r.attempt("keys") {
            val (df, tc) = Census.timed(census, trace, s"construct/$key", "construct", "entry")(
              fn(spark, o.fixture))
            val (n, ta) = Census.timed(census, trace, s"action/$key", "action", "operators")(df.count())
            counts(key) = counts.getOrElse(key, Vector.empty) :+ n
            times += KeyTime(key, tc, ta)
          }
          // bookkeeping after the key, outside its timing, as graft.Bench does
          CacheTracker.releaseAll()
        }
        walls += Main.secs(p0)
      }
      (walls.toSeq, times.toSeq)
    }

    // one untimed pass: JIT, codegen, table reads and per-fixture memos
    val (warmUp, _) = passes(None, new Trace(false), 1, 0)
    val setupS = Main.secs(setup0)
    val (walls, times) = passes(None, new Trace(false), timedPasses, o.seconds, writeReps)
    // each key's median over the timed passes, as graft.Bench reports
    val perKey = times.groupBy(_.key).map { case (k, ts) => k -> Stats.median(ts.map(_.totalS)) * 1e3 }
    if (!o.trace) {
      val reads = perKey.collect { case (k, ms) if !writes(k) => ms }.toSeq
      val wr = perKey.collect { case (k, ms) if writes(k) => ms }.toSeq
      Layers.emitEndToEnd(r, Map(
        "setup_s" -> setupS, "pass_s" -> perKey.values.sum / 1e3,
        "read_p50_ms" -> Stats.median(reads), "read_p90_ms" -> Stats.pct(reads, 90),
        "write_p50_ms" -> Stats.median(wr)))
    } else {
      val trace = new Trace(true)
      val census = new Census(spark, trace)
      val jvm = new Jvm
      jvm.reset()
      val (tWalls, tTimes) = passes(Some(census), trace, 1, 0)
      census.stop()
      // tracing overhead compares the traced passes with untraced ones
      // after them, which are at least as warm
      val (afterWalls, _) = passes(None, new Trace(false), 1, 0)
      val units = tWalls.size.toDouble
      val wall = tWalls.sum
      val constructGroups = census.groups.filter(_.startsWith("construct/"))
      val all = Layers.sum(census, census.groups - "idle")
      val spans = trace.resolved
      val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
      val gapUs = spans.filter(_.name == "action").map { a =>
        a.durUs - Intervals.unionLength(kids.getOrElse(a.id, Vector.empty)
          .filter(_.layer == "spark")
          .map(c => (math.max(c.startUs, a.startUs), math.min(c.endUs, a.endUs))))
      }.sum
      val constructS = tTimes.map(_.constructS).sum
      val perFamily = tTimes.groupBy(t => family(t.key))
      val famMetrics = Families.names.flatMap { f =>
        val ts = perFamily.getOrElse(f, Seq.empty)
        Seq(s"family.$f.construct_s" -> ts.map(_.constructS).sum / units,
          s"family.$f.action_s" -> ts.map(_.actionS).sum / units)
      }
      Layers.emitPerLayer(r, Layers.sparkMetrics(all, units, wall) ++ famMetrics ++
        Layers.traceMetrics(Seq(trace), units, Set.empty) ++ Layers.jvmMetrics(jvm, units) ++ Map(
          "entry.construct_s" -> constructS / units,
          "entry.construct_jobs" -> Layers.sum(census, constructGroups).jobs / units,
          "entry.construct_share" -> constructS / wall,
          "spark.driver_gap_s" -> gapUs / 1e6 / units,
          "trace.overhead_pct" -> Layers.overheadPct(Stats.median(tWalls), Stats.median(afterWalls))))
      trace.writeJson(java.nio.file.Paths.get(o.work, "trace-suite.json"))
    }
    r.note("setup_s", setupS, "s", 1)
    r.note("cold_pass_s", warmUp.head, "s", 1)
    r.note("suite_s", perKey.values.sum / 1e3, "s", walls.size)
    counts.foreach { case (k, ns) =>
      if (ns.size > 1) r.check(s"stable_count/$k", ns.distinct.size == 1, s"counts differ across passes: $ns")
    }
    r.extra("counts") = Json.obj(counts.toSeq.map { case (k, ns) => k -> Json.arr(ns.map(_.toString)) })
    r.extra("oracle_sql") = Json.obj(SparkEntry.oracleSql.toSeq.filter(kv => Families.timed(kv._1)).sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    spark.stop()
  }
}
