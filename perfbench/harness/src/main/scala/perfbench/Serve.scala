package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.index.{HnswIndex, HnswSpark}

/** Seeded vectors and id streams shared by the `serve` and `ingest`
  * generators.
  */
final class Gen(seed: Long, val dim: Int) {
  val rnd = new java.util.Random(seed)
  def vec(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())

  /** Live ids with O(1) random pick and removal. */
  final class LiveIds(initial: Range) {
    private val ids = mutable.ArrayBuffer.from(initial.map(_.toLong))
    private val pos = mutable.HashMap.from(ids.zipWithIndex)
    def size: Int = ids.size
    def pick(): Long = ids(rnd.nextInt(ids.size))
    def add(id: Long): Unit = { pos(id) = ids.size; ids += id }
    def remove(id: Long): Unit = {
      val i = pos.remove(id).get
      val last = ids.remove(ids.size - 1)
      if (i < ids.size) { ids(i) = last; pos(last) = i }
    }
  }
}

/** Exact top-k by cosine distance over a live set, for recall. */
object Exact {
  def topK(live: collection.Map[Long, Array[Double]], q: Array[Double], k: Int): Seq[Long] = {
    val metric = new HnswIndex(q.length)
    // bounded max-heap of the k best (distance, id) pairs seen so far
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
    live.foreach { case (id, v) =>
      val d = metric.distance(q, v)
      if (heap.size < k) heap.enqueue((d, id))
      else if (ord.lt((d, id), heap.head)) { heap.dequeue(); heap.enqueue((d, id)) }
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }

  def recall(approx: Seq[Seq[Long]], exact: Seq[Seq[Long]], k: Int): Double =
    approx.zip(exact).map { case (a, e) => a.toSet.intersect(e.toSet).size.toDouble / k }.sum /
      math.max(1, exact.size)
}

/** Workload `serve`: the in-process sharded HNSW, as served to `tenants`
  * tenants at once. Each tenant has its own seeded corpus, built into
  * shards with `HnswSpark.build`, and its own closed-loop client on its own
  * thread, which sends 90% k=10, ef=50 searches through `HnswSpark.searchAll`
  * and 10% writes through `HnswSpark.applyMutations` (new-id inserts,
  * overwrites, deletes in equal parts). No Spark job runs in the timed loop.
  *
  * Why several clients, and why each on its own index: on a shared host one
  * core's speed swings by up to 30% for seconds at a time, so one
  * single-threaded client reads the host more than the index; clients on
  * separate cores average those swings. `HnswIndex` is not safe for a
  * writer next to other callers, so clients do not share an index. Every
  * timed call runs on its client's thread: `searchAllPar`'s fan-out of
  * sub-millisecond shard searches over the common fork-join pool measures
  * how fast the host wakes idle cores. It is timed after the loop on the
  * first tenant, reported but not gated, and checked against `searchAll`.
  */
object Serve {
  val tenants = 3
  val n = 10000
  val dim = 64
  val shards = 8
  val k = 10
  val ef = 50
  val maxOps = 60000
  val recallQueries = 200
  val parQueries = 500
  /** Untimed operations of the mix first: the JIT recompiles the search
    * path for the loop's profile, which it has not seen while building.
    */
  val warmSeconds = 3.0

  private sealed trait Op
  private final case class Search(q: Array[Double]) extends Op
  private final case class Insert(id: Long, v: Array[Double], fresh: Boolean) extends Op
  private final case class Delete(id: Long) extends Op

  /** What one or more clients measured in one phase. */
  private final class Phase {
    /** (is a search, ms) per timed operation */
    val lat = mutable.ArrayBuffer.empty[(Boolean, Double)]
    def search: Seq[Double] = lat.collect { case (true, ms) => ms }.toSeq
    def write: Seq[Double] = lat.collect { case (false, ms) => ms }.toSeq
    val insertUs = mutable.ArrayBuffer.empty[Double]
    val deleteUs = mutable.ArrayBuffer.empty[Double]
    val shardUs = mutable.ArrayBuffer.empty[Double]
    val fanoutUs = mutable.ArrayBuffer.empty[Double]
    def count: Int = lat.size
    /** Time of 1,000 operations of the mix, from the whole phase: a shared
      * host's speed drifts over seconds, and a figure pooled over the run
      * moves smoothly with that drift where a median of blocks jumps
      * between the host's fast and slow spells.
      */
    def passS: Double = lat.map(_._2).sum / 1e3 * 1000 / math.max(1, lat.size)
  }

  private object Phase {
    def merge(ps: Seq[Phase]): Phase = {
      val m = new Phase
      ps.foreach { p =>
        m.lat ++= p.lat; m.insertUs ++= p.insertUs; m.deleteUs ++= p.deleteUs
        m.shardUs ++= p.shardUs; m.fanoutUs ++= p.fanoutUs
      }
      m
    }
  }

  /** One tenant: inputs drawn from `g` before any timing, its index once
    * built, and its own accounting `res`, merged into the run's at the end.
    */
  private final class Tenant(g: Gen, val res: Result) {
    val corpus: Array[Array[Double]] = Array.fill(n)(g.vec())
    val ops: Array[Op] = {
      val live = new g.LiveIds(0 until n)
      var nextId = n.toLong
      Array.fill(maxOps) {
        if (g.rnd.nextInt(10) != 0) Search(g.vec())
        else g.rnd.nextInt(3) match {
          case 0 => val id = nextId; nextId += 1; live.add(id); Insert(id, g.vec(), fresh = true)
          case 1 => Insert(live.pick(), g.vec(), fresh = false)
          case _ => val id = live.pick(); live.remove(id); Delete(id)
        }
      }
    }
    val held: Array[Array[Double]] = Array.fill(recallQueries)(g.vec())

    var indexes: IndexedSeq[HnswIndex] = IndexedSeq.empty
    val state = mutable.HashMap.from(corpus.indices.map(i => i.toLong -> corpus(i)))
    val deleted = mutable.HashSet.empty[Long]
    var cursor = 0
    var searchCalls = 0L
    var searches0 = 0L

    def build(spark: SparkSession, params: HnswSpark.Params): Double = {
      import spark.implicits._
      val df = corpus.indices.map(i => (i.toLong, corpus(i).toSeq)).toDF("vec_id", "embedding")
      val (ix, s) = Main.timed(HnswSpark.build(df, params, shards))
      indexes = ix.toIndexedSeq
      searches0 = indexes.map(_.totalSearches).sum
      s
    }

    def search(q: Array[Double]): Seq[(Long, Double)] = {
      searchCalls += 1
      HnswSpark.searchAll(indexes, q, k, Some(ef))
    }

    def loop(seconds: Double, trace: Trace): Phase = {
      val p = new Phase
      val t0 = System.nanoTime()
      while (cursor < ops.length && Main.secs(t0) < seconds) {
        val op = ops(cursor)
        trace.op = s"op$cursor"
        cursor += 1
        op match {
          case Search(q) =>
            res.attempt("searches") {
              val (found, s) = Main.timed(trace.span("search", "index")(search(q)))
              p.lat += ((true, s * 1e3))
              res.check("search_returns_k", found.size == k, s"${found.size} rows")
              val bad = found.map(_._1).filter(deleted)
              res.check("deleted_never_returned", bad.isEmpty, s"deleted ids $bad returned")
              if (trace.enabled && cursor % 10 == 0) {
                searchCalls += 1
                val per = indexes.map(ix => Main.timed(trace.span("shard_search", "index.shard")(ix.search(q, k, Some(ef))))._2 * 1e6)
                p.shardUs ++= per
                p.fanoutUs += s * 1e6 - per.sum
              }
            }
          case Insert(id, v, fresh) =>
            res.attempt("writes") {
              val (_, s) = Main.timed(trace.span("write", "index")(
                HnswSpark.applyMutations(indexes.toArray, Seq(id -> v), Nil)))
              p.lat += ((false, s * 1e3))
              if (fresh) p.insertUs += s * 1e6
              state(id) = v
              val found = search(v).map(_._1)
              res.check("inserted_vector_found", found.contains(id), s"id $id not in $found")
            }
          case Delete(id) =>
            res.attempt("writes") {
              val (out, s) = Main.timed(trace.span("write", "index")(
                HnswSpark.applyMutations(indexes.toArray, Nil, Seq(id))))
              p.lat += ((false, s * 1e3))
              p.deleteUs += s * 1e6
              res.check("delete_hits_live_id", out._2 == 1, s"delete of $id missed")
              state.remove(id); deleted += id
            }
        }
      }
      if (cursor == ops.length) System.err.println(s"perfbench: serve used all $maxOps generated ops")
      p
    }

    /** End-of-run checks; returns recall@10 against exact search. */
    def finish(): Double = {
      val approx = held.toSeq.map(q => search(q).map(_._1))
      val searchesDelta = indexes.map(_.totalSearches).sum - searches0
      res.check("total_searches_is_calls_times_shards", searchesDelta == searchCalls * shards,
        s"totalSearches grew by $searchesDelta, expected ${searchCalls * shards}")
      val recall = Exact.recall(approx, held.toSeq.map(q => Exact.topK(state, q, k)), k)
      res.check("recall_at_10_at_least_0.9", recall >= 0.9, f"recall $recall%.4f")
      recall
    }
  }

  /** One phase: every tenant's client on its own thread, all at once. */
  private def together(ts: Seq[Tenant], traces: Seq[Trace], seconds: Double): Phase = {
    val out = new Array[Phase](ts.size)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = ts.indices.map { i =>
      new Thread(() =>
        try out(i) = ts(i).loop(seconds, traces(i))
        catch { case e: Throwable => failure.compareAndSet(null, e) }, s"client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (failure.get != null) throw failure.get
    Phase.merge(out.toSeq)
  }

  def run(o: Opts, r: Result): Unit = {
    val spark = Main.session(o.work)
    val params = HnswSpark.Params(dim = dim, efSearch = ef)
    // inputs, all generated before any timing
    val g = new Gen(o.seed, dim)
    val ts = Seq.fill(tenants)(new Tenant(g, new Result("serve")))
    val parHeld = Array.fill(parQueries)(g.vec())

    // set-up: one build per tenant, one after the other
    val setupTimes = ts.map(_.build(spark, params))
    spark.stop()

    def untraced = Seq.fill(tenants)(new Trace(false))
    together(ts, untraced, warmSeconds)
    val main = together(ts, untraced, o.seconds)
    if (o.trace) {
      val traces = Seq.fill(tenants)(new Trace(true))
      val jvm = new Jvm
      jvm.reset()
      val p = together(ts, traces, o.seconds)
      val after = together(ts, untraced, o.seconds)
      val units = p.count / 1000.0
      Layers.emitPerLayer(r, Layers.traceMetrics(traces, units, Set.empty) ++ Layers.jvmMetrics(jvm, units) ++ Map(
        "index.shard_search_us" -> Stats.median(p.shardUs.toSeq),
        "index.fanout_us" -> Stats.median(p.fanoutUs.toSeq),
        "index.insert_us" -> Stats.median(p.insertUs.toSeq),
        "index.delete_us" -> Stats.median(p.deleteUs.toSeq),
        "trace.overhead_pct" -> Layers.overheadPct(p.passS, after.passS)))
      traces.head.writeJson(java.nio.file.Paths.get(o.work, "trace-serve.json"))
    }

    // the concurrent fan-out, after the loop: reported, not gated
    val first = ts.head
    val parMs = mutable.ArrayBuffer.empty[Double]
    parHeld.zipWithIndex.foreach { case (q, i) =>
      first.res.attempt("searches") {
        first.searchCalls += 1
        val (found, s) = Main.timed(HnswSpark.searchAllPar(first.indexes, q, k, Some(ef)))
        parMs += s * 1e3
        if (i % 10 == 0) first.res.check("par_matches_sequential", found == first.search(q), s"query $i differs")
      }
    }

    val recall = Stats.median(ts.map(_.finish()))
    ts.foreach(t => r.absorb(t.res))
    val indexMb = Stats.median(ts.map(_.indexes.map(_.memoryBytes).sum / 1e6))
    if (o.trace) {
      r.metric("index.dead_slots", Stats.median(ts.map(_.indexes.map(_.deadCount).sum.toDouble)), "count")
      r.metric("index.searches",
        ts.map(t => t.indexes.map(_.totalSearches).sum - t.searches0).sum / (ts.map(_.cursor).sum / 1000.0), "count")
      r.metric("index.recall_at_10", recall, "ratio")
      r.metric("index.memory_mb", indexMb, "MB")
    } else {
      Layers.emitEndToEnd(r, Map(
        "setup_s" -> Stats.median(setupTimes), "pass_s" -> main.passS,
        "read_p50_ms" -> Stats.median(main.search), "read_p90_ms" -> Stats.pct(main.search, 90),
        "write_p50_ms" -> Stats.median(main.write)))
    }
    r.note("setup_s", Stats.median(setupTimes), "s", tenants)
    r.note("search_p50_ms", Stats.median(main.search), "ms", main.search.size)
    r.note("search_p99_ms", Stats.pct(main.search, 99), "ms", main.search.size)
    r.note("search_par_p50_ms", Stats.median(parMs.toSeq), "ms", parMs.size)
    r.note("write_p50_ms", Stats.median(main.write), "ms", main.write.size)
    r.note("write_p99_ms", Stats.pct(main.write, 99), "ms", main.write.size)
    r.note("recall_at_10", recall, "ratio", tenants * recallQueries)
    r.note("index_mb", indexMb, "MB", shards)
  }
}
