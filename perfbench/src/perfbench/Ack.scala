package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.streaming.{Envelope, EventEngine, EventHub}
import org.apache.spark.sql.SparkSession

/** The event payload the hub workloads publish. */
final case class Payload(key: Long, tag: String, v: Double)

object Payloads {
  private val Tags = Array("ack", "bid", "cut", "dip", "eon", "fix", "gap", "hop")

  /** `n` payloads with distinct keys, drawn from `seed`. */
  def generate(seed: Long, n: Int): Array[Payload] = {
    val rng = new java.util.Random(seed)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n) keys += rng.nextLong()
    keys.iterator.map(k =>
      Payload(k, Tags(rng.nextInt(Tags.length)), rng.nextDouble() * 1000)).toArray
  }

  /** What the end of the pipe chain must see for `p`: one `+1` per hop. */
  def afterHops(p: Payload, hops: Int): Payload =
    (0 until hops).foldLeft(p)((q, _) => hop(q))

  def hop(p: Payload): Payload = p.copy(v = p.v + 1)
}

/** A terminal subscriber that checks the delivery contract: every
  * event exactly once, in publication order, with the payload the
  * publisher sent. `expect(id)` gives that payload; `dropId` is a
  * fault the smoke test injects (the handler ignores that event).
  */
final class Probe(expect: Long => Payload, dropId: Long) {
  val calls = new AtomicLong
  val violations = new AtomicLong
  /** Root id of the last event handled. */
  val last = new AtomicLong(-1L)
  @volatile private var next = 0L
  /** Root id → nanoTime the handler saw it (traced part only). */
  val seenAt = new ConcurrentHashMap[Long, Long]()
  @volatile var traced = false

  def onEvent(e: Envelope[Payload]): Unit = {
    val now = System.nanoTime()
    val root = e.rootId
    if (root == dropId) return
    calls.incrementAndGet()
    if (root != next || e.payload != expect(root)) violations.incrementAndGet()
    next = root + 1
    if (traced) seenAt.put(root, now)
    last.set(root)
  }
}

/** The two acknowledged-send workloads.
  *
  * `fanout`: one hub with `subscribers` `foreachOrdered` probes.
  * `chain`: source → h1 → … → h`depth` through `pipeTo`, one
  * subscriber per hub, ending in one `foreachOrdered` probe.
  *
  * One publisher thread runs a closed loop of `sendSync`; an operation
  * fails when the call throws or when, after it returns, some terminal
  * probe has not yet handled that event or saw an ordering, duplicate
  * or payload violation during it. Failed operations are not timed.
  */
final class Ack(spark: SparkSession, shape: String, seed: Long,
    dropAfterWarmup: Boolean) {
  // 8 subscribers, not 16: 16 streaming queries saturate a 4-core
  // host and the median send latency then spreads about twice as wide
  // between identical runs (perfbench/README.md)
  private val subscribers = if (shape == "fanout") 8 else 1
  // untimed sends before timing starts; the first sends of a fresh JVM
  // are up to 1.5x slower while the JIT compiles the epoch path
  private val Warmup = if (shape == "fanout") 12 else 16
  private val depth = if (shape == "fanout") 0 else 4
  /** Nominal sends per second on a 4-core host: a run times
    * `--seconds` times this many sends, the same number on every run.
    */
  val sendsPerSecond: Double = if (shape == "fanout") 2.5 else 2.0
  private val payloads = Payloads.generate(seed, 20000)
  private val dropId = if (dropAfterWarmup) Warmup + 1L else -1L

  private val engine = new EventEngine(spark)
  private val source: EventHub[Payload] = engine.hub[Payload](s"$shape-src")
  private val probes = (0 until subscribers).map { i =>
    new Probe(id => Payloads.afterHops(payloads(id.toInt), depth),
      if (i == 0) dropId else -1L)
  }
  /** Per hop: payload key → nanoTime the pipe function ran (traced). */
  private val hopAt = Array.fill(depth)(new ConcurrentHashMap[Long, Long]())
  private val hopCalls = new AtomicLong
  @volatile private var traced = false
  val subscribeMs = mutable.ArrayBuffer.empty[Double]

  private def timedStart(start: => Unit): Unit = {
    val t = System.nanoTime()
    start
    subscribeMs += (System.nanoTime() - t) / 1e6
  }

  // topology: hubs, pipes and probes, each consumer start timed
  if (depth == 0)
    probes.foreach(p => timedStart(source.subscribe().foreachOrdered(p.onEvent)))
  else {
    var up: EventHub[Payload] = source
    (1 to depth).foreach { h =>
      val down = engine.hub[Payload](s"$shape-h$h")
      val seen = hopAt(h - 1)
      val from = up
      timedStart(from.subscribe().pipeTo(down) { p =>
        if (traced) seen.put(p.key, System.nanoTime())
        hopCalls.incrementAndGet()
        Some(Payloads.hop(p))
      })
      up = down
    }
    val last = up
    timedStart(last.subscribe().foreachOrdered(probes.head.onEvent))
  }

  var attempted = 0
  var failed = 0
  private var sent = 0

  /** One acknowledged send of the next payload. Returns the latency in
    * ns when the operation succeeded, else None. In traced mode the
    * send is split into its two public halves, `post` and
    * `awaitQuiescence` (exactly what `sendSync` does), each timed.
    */
  private def sendOne(trace: Option[TraceBuf]): Option[Long] = {
    val i = sent
    sent += 1
    attempted += 1
    val v0 = probes.map(_.violations.get).sum
    val t0 = System.nanoTime()
    val ok = try {
      val id = trace match {
        case None => source.sendSync(payloads(i))
        case Some(tb) =>
          val id = source.post(payloads(i))
          val t1 = System.nanoTime()
          engine.awaitQuiescence()
          tb.post(id, t0, t1, System.nanoTime())
          id
      }
      id == i && probes.forall(_.last.get == i) &&
        probes.map(_.violations.get).sum == v0
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] send $i failed: $e")
      false
    }
    val dt = System.nanoTime() - t0
    if (!ok) failed += 1
    if (ok) Some(dt) else None
  }

  /** Untimed warm-up sends (checked like every other send). */
  def warmup(): Unit = (0 until Warmup).foreach(_ => sendOne(None))

  /** Process CPU time (ms) of each successful untraced send. */
  val cpuMs = mutable.ArrayBuffer.empty[Double]

  /** Closed loop of `ops` sends; successful latencies in ms. */
  def run(ops: Int): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    (0 until ops).foreach { _ =>
      val cpu0 = Jvm.cpuNs
      sendOne(None).foreach { ns =>
        out += ns / 1e6
        cpuMs += (Jvm.cpuNs - cpu0) / 1e6
      }
    }
    out.toSeq
  }

  final class TraceBuf {
    val postNs = mutable.ArrayBuffer.empty[Double]
    val barrierNs = mutable.ArrayBuffer.empty[Double]
    val postedAt = mutable.LinkedHashMap.empty[Long, Long]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val latMs = mutable.ArrayBuffer.empty[Double]
    def post(id: Long, t0: Long, t1: Long, t2: Long): Unit = {
      postNs += (t1 - t0).toDouble
      barrierNs += (t2 - t1).toDouble
      postedAt(id) = t1
    }
  }

  /** The traced part: the same closed loop with every layer metered. */
  def runTraced(ops: Int): (Seq[Double], Map[String, Double]) = {
    val tb = new TraceBuf
    val tracer = new Tracer(spark)
    traced = true
    probes.foreach(_.traced = true)
    val m0 = settledMetrics()
    tracer.start()
    (0 until ops).foreach { _ =>
      val w0 = System.currentTimeMillis()
      sendOne(Some(tb)).foreach(ns => tb.latMs += ns / 1e6)
      tb.windows += ((w0, System.currentTimeMillis()))
    }
    val layers = tracer.finish(ops, tb.windows.toSeq)
    val m1 = settledMetrics()
    traced = false
    probes.foreach(_.traced = false)
    val n = math.max(ops, 1).toDouble
    val ids = tb.postedAt.keys.toSeq
    // first terminal handler after `post` returned, and the spread
    // between the first and the last subscriber to see each event
    val firstSeen = ids.flatMap { id =>
      val first = if (depth == 0) probes.flatMap(p => Option(p.seenAt.get(id))).minOption
        else Option(hopAt(0).get(payloads(id.toInt).key))
      first.map(f => (f - tb.postedAt(id)) / 1e6)
    }
    val straggle = if (depth > 0) Seq(0.0) else ids.flatMap { id =>
      val seen = probes.flatMap(p => Option(p.seenAt.get(id)))
      if (seen.size == probes.size) Some((seen.max - seen.min) / 1e6) else None
    }
    val hops = if (depth == 0) Seq(0.0) else ids.flatMap { id =>
      val key = payloads(id.toInt).key
      val times = hopAt.toSeq.map(h => Option(h.get(key))) :+
        Option(probes.head.seenAt.get(id))
      if (times.forall(_.isDefined))
        times.flatten.sliding(2).map { case Seq(a, b) => (b - a) / 1e6 }
      else Nil
    }
    (tb.latMs.toSeq, layers ++ Map(
      "hub.post_us" -> Stats.median(tb.postNs.toSeq) / 1e3,
      "engine.barrier_ms" -> Stats.median(tb.barrierNs.toSeq) / 1e6,
      "engine.epochs_per_op" -> (m1.batchesCommitted - m0.batchesCommitted) / n,
      "engine.rows_per_op" -> (m1.rowsProcessed - m0.rowsProcessed) / n,
      "sub.deliver_ms" -> Stats.median(firstSeen),
      "sub.straggler_ms" -> Stats.median(straggle),
      "pipe.hop_ms" -> Stats.median(hops)))
  }

  /** `EngineMetrics` come off the async listener bus: poll until the
    * batch count stops moving.
    */
  private def settledMetrics() = {
    var m = engine.metrics
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 5 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = engine.metrics
      stable = if (n.batchesCommitted == m.batchesCommitted) stable + 1 else 0
      m = n
    }
    m
  }

  /** Drain and stop the topology, then check delivery end to end:
    * every terminal handler ran exactly once per event with no
    * violation, and every pipe function ran once per event per hop.
    * Returns (delivery ratio, contract held).
    */
  def close(): (Double, Boolean) = {
    engine.close()
    val calls = probes.map(_.calls.get).sum + hopCalls.get
    val expected = sent.toLong * (subscribers + depth)
    val clean = probes.forall(_.violations.get == 0)
    (calls.toDouble / expected, calls == expected && clean)
  }
}
