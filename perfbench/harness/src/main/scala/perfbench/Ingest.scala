package perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

import graft.index.{HnswIndex, HnswPersistence, HnswSpark}

/** Workload `ingest`: the `index` layer written through Spark. A seeded
  * corpus is built into executor-resident shards with
  * `HnswSpark.buildResident`. One closed-loop client then runs refresh
  * generations: a `refreshResident` of 2,000 mutations (80% new-id inserts,
  * 10% overwrites, 10% deletes), one batched `searchResident`, and a few
  * one-row `searchResident` probes. The run ends with `saveResident` then
  * `loadResident`.
  */
object Ingest {
  val n = 10000
  val dim = 64
  val shards = 8
  val k = 10
  val batchSize = 2000
  val maxGenerations = 30
  val warmGenerations = 1
  val minGenerations = 5
  val batchQueries = 100
  val pointProbes = 10
  val setups = 3

  /** One generation's inputs, drawn before any timing. The DataFrames that
    * carry them are made when the generation starts, outside its timing.
    */
  private final case class Generation(
      mutations: Seq[(Long, String, Long, Option[Array[Double]])], live: Long,
      batch: Seq[Array[Double]], points: Seq[Array[Double]])

  def run(o: Opts, r: Result): Unit = {
    val spark = Main.session(o.work)
    import spark.implicits._
    val params = HnswSpark.Params(dim = dim)
    // inputs, all generated before any timing
    val g = new Gen(o.seed, dim)
    val corpus = Array.fill(n)(g.vec())
    val corpusDf = corpus.indices.map(i => (i.toLong, corpus(i).toSeq)).toDF("vec_id", "embedding")
    val live = new g.LiveIds(0 until n)
    var nextId = n.toLong
    var seq = 0L
    def queries(vs: Seq[Array[Double]]): DataFrame =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("query_id", "qv")
    val gens = (1 to maxGenerations).map { _ =>
      val muts = (1 to batchSize).map { _ =>
        seq += 1
        g.rnd.nextInt(10) match {
          case 8 => (seq, "insert", live.pick(), Some(g.vec()))
          case 9 => val id = live.pick(); live.remove(id); (seq, "delete", id, None)
          case _ => val id = nextId; nextId += 1; live.add(id); (seq, "insert", id, Some(g.vec()))
        }
      }
      Generation(muts, live.size, Seq.fill(batchQueries)(g.vec()), Seq.fill(pointProbes)(g.vec()))
    }
    val held = Seq.fill(batchQueries)(g.vec())
    val heldDf = queries(held)

    val setupTimes = (1 to setups).map { _ =>
      val (rdd, s) = Main.timed(HnswSpark.buildResident(corpusDf, params, shards))
      (rdd, s)
    }
    setupTimes.init.foreach(_._1.unpersist(blocking = true))
    var current: RDD[HnswIndex] = setupTimes.last._1
    val state = mutable.HashMap.from(corpus.indices.map(i => i.toLong -> corpus(i)))
    var gi = 0

    final class Phase {
      val genS = mutable.ArrayBuffer.empty[Double]
      val refreshMs = mutable.ArrayBuffer.empty[Double]
      val batchMsPerQuery = mutable.ArrayBuffer.empty[Double]
      val pointMs = mutable.ArrayBuffer.empty[Double]
    }

    def loop(census: Option[Census], trace: Trace, minGens: Int, maxGens: Int): Phase = {
      val p = new Phase
      def step[A](grp: String)(body: => A): (A, Double) =
        Census.timed(census, trace, grp, grp, "index")(body)
      val t0 = System.nanoTime()
      while (gi < gens.length && p.genS.size < maxGens &&
          (p.genS.size < minGens || Main.secs(t0) < o.seconds)) {
        val gen = gens(gi)
        val mutationsDf = gen.mutations.map { case (s, op, id, v) => (s, op, id, v.map(_.toSeq).orNull) }
          .toDF("seq", "op", "vec_id", "vec")
        val batchDf = queries(gen.batch)
        val pointDfs = gen.points.map(v => queries(Seq(v)))
        trace.op = s"gen$gi"
        gi += 1
        r.attempt("generations") {
          val (next, refreshS) = step("refresh")(HnswSpark.refreshResident(current, mutationsDf, params))
          p.refreshMs += refreshS * 1e3
          var genTime = refreshS
          current.unpersist(blocking = false)
          current = next
          gen.mutations.foreach {
            case (_, _, id, Some(v)) => state(id) = v
            case (_, _, id, None) => state.remove(id)
          }
          val liveNow = trace.span("check", "check")(current.map(_.size.toLong).sum().toLong)
          r.check("live_count_after_generation", liveNow == gen.live, s"live $liveNow, expected ${gen.live}")
          r.attempt("probes") {
            val (rows, s) = step("probe.batch")(HnswSpark.searchResident(spark, current, batchDf, k).collect())
            p.batchMsPerQuery += s * 1e3 / batchQueries; genTime += s
            r.check("batch_probe_returns_k_per_query", rows.length == batchQueries * k, s"${rows.length} rows")
          }
          pointDfs.foreach { q =>
            r.attempt("probes") {
              val (rows, s) = step("probe.point")(HnswSpark.searchResident(spark, current, q, k).collect())
              p.pointMs += s * 1e3; genTime += s
              r.check("point_probe_returns_k", rows.length == k, s"${rows.length} rows")
            }
          }
          p.genS += genTime
        }
      }
      p
    }

    // untimed generations first, so timed ones run with the JIT warm
    loop(None, new Trace(false), 0, warmGenerations)
    val main = loop(None, new Trace(false), minGenerations, Int.MaxValue)
    val trace = new Trace(o.trace)
    val census = if (o.trace) Some(new Census(spark, trace)) else None
    val jvm = new Jvm
    jvm.reset()
    val traced = if (o.trace) Some(loop(census, trace, minGenerations, Int.MaxValue)) else None
    val untracedAfter = if (o.trace) loop(None, new Trace(false), minGenerations, Int.MaxValue) else main

    // persistence round trip, then the end-of-run checks
    def probeHeld(shardRdd: RDD[HnswIndex]): Seq[Row] =
      HnswSpark.searchResident(spark, shardRdd, heldDf, k).collect().toSeq
        .sortBy(x => (x.getLong(0), x.getDouble(2), x.getLong(1)))
    val before = probeHeld(current)
    val path = java.nio.file.Paths.get(o.work, "ingest-index").toString
    trace.op = "persist"
    val (_, saveS) = Census.timed(census, trace, "persist.save", "persist.save", "persist")(
      HnswPersistence.saveResident(spark, current, path))
    val bytes = dirBytes(java.nio.file.Paths.get(path))
    val (loaded, loadS) = Census.timed(census, trace, "persist.load", "persist.load", "persist")(
      HnswPersistence.loadResident(spark, path))
    val after = probeHeld(loaded)
    r.check("probe_after_reload_matches", before == after,
      s"${before.size} rows before save, ${after.size} after load, first difference at " +
        before.zip(after).indexWhere { case (a, b) => a != b })
    val approx = held.indices.map(i => before.filter(_.getLong(0) == i).map(_.getLong(1)))
    val recall = Exact.recall(approx, held.map(q => Exact.topK(state, q, k)), k)
    r.check("recall_at_10_at_least_0.9", recall >= 0.9, f"recall $recall%.4f")
    val liveN = state.size.toLong
    val perUserByte = bytes.toDouble / (liveN * dim * 8L)

    traced match {
      case Some(p) =>
        census.foreach(_.stop())
        val c = census.get
        val units = p.genS.size.toDouble
        val loopGroups = Set("refresh", "probe.batch", "probe.point")
        val refresh = c.counts("refresh")
        val probe = Layers.sum(c, Set("probe.batch", "probe.point"))
        Layers.emitPerLayer(r, Layers.sparkMetrics(Layers.sum(c, loopGroups), units, p.genS.sum) ++
          Layers.traceMetrics(Seq(trace), units, Set("persist")) ++ Layers.jvmMetrics(jvm, units) ++ Map(
            "refresh.jobs" -> refresh.jobs / units, "refresh.tasks" -> refresh.tasks / units,
            "refresh.task_cpu_s" -> refresh.taskCpuNs / 1e9 / units,
            "refresh.shuffle_write_bytes" -> refresh.shuffleWriteBytes / units,
            "probe.jobs" -> probe.jobs / units, "probe.tasks" -> probe.tasks / units,
            "index.recall_at_10" -> recall,
            "persist.save_s" -> saveS, "persist.load_s" -> loadS, "persist.bytes" -> bytes.toDouble,
            "persist.bytes_per_user_byte" -> perUserByte,
            "trace.overhead_pct" -> Layers.overheadPct(Stats.median(p.genS.toSeq), Stats.median(untracedAfter.genS.toSeq))))
        trace.writeJson(java.nio.file.Paths.get(o.work, "trace-ingest.json"))
      case None =>
        Layers.emitEndToEnd(r, Map(
          "setup_s" -> Stats.median(setupTimes.map(_._2)), "pass_s" -> Stats.median(main.genS.toSeq),
          "read_p50_ms" -> Stats.median(main.pointMs.toSeq), "read_p90_ms" -> Stats.pct(main.pointMs.toSeq, 90),
          "write_p50_ms" -> Stats.median(main.refreshMs.toSeq)))
    }
    if (gi == gens.length) System.err.println(s"perfbench: ingest used all $maxGenerations generations")
    r.note("setup_s", Stats.median(setupTimes.map(_._2)), "s", setups)
    r.note("refresh_p50_s", Stats.median(main.refreshMs.toSeq) / 1e3, "s", main.refreshMs.size)
    r.note("probe_batch_ms", Stats.median(main.batchMsPerQuery.toSeq), "ms", main.batchMsPerQuery.size)
    r.note("probe_point_p50_ms", Stats.median(main.pointMs.toSeq), "ms", main.pointMs.size)
    r.note("recall_at_10", recall, "ratio", batchQueries)
    r.note("bytes_per_user_byte", perUserByte, "ratio", 1)
    spark.stop()
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
