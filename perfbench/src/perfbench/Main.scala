package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession

/** JVM half of the benchmark; `perfbench/run.py` builds and launches
  * it and turns the raw result file it writes into the benchmark's
  * metrics.
  *
  * {{{
  * perfbench.Main --workload ack_fanout|ack_chain|query_mix --seed N
  *   --seconds S --trace 0|1 --cores C
  *   --result FILE [--data DIR --out DIR] [--max-ops N] [--inject-drop]
  * }}}
  *
  * The timed part is a fixed amount of work: `--seconds` times the
  * hub workload's nominal send rate, or a fixed number of passes over
  * the query mix. With `--trace 1` it is split untraced / traced /
  * untraced (a quarter, a half and a quarter of the sends; one pass
  * each for the query mix) and `trace.overhead` compares the traced
  * median latency with the untraced one.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val maxOps = args.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue)
    val heap = new HeapWatch
    val spark = GraftSession.local(cores, "perfbench")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
    val layers = mutable.LinkedHashMap.empty[String, Double]

    workload match {
      case "ack_fanout" | "ack_chain" =>
        val ack = new Ack(spark, workload.stripPrefix("ack_"), seed,
          args.contains("inject-drop"))
        ack.warmup()
        out("setup_end_ms") = System.currentTimeMillis()
        // a fixed number of sends: a run still warming up (it is, for
        // tens of sends) must time the same stretch of that curve
        val sends = math.max(1, math.min(maxOps,
          math.round(seconds * ack.sendsPerSecond).toInt))
        // traced: untraced quarter, traced half, untraced quarter, so
        // warm-up drift over the run cancels out of trace.overhead
        val samples =
          if (!trace) ack.run(sends)
          else {
            val quarter = math.max(sends / 4, 1)
            val before = ack.run(quarter)
            val (traced, l) = ack.runTraced(math.max(sends / 2, 1))
            val plain = before ++ ack.run(quarter)
            layers ++= l
            layers("trace.overhead") = ratio(traced, plain)
            plain
          }
        out("heap_live_mb") = liveHeapMb()
        val (delivery, contract) = ack.close()
        layers("sub.delivery_ratio") = delivery
        layers("hub.subscribe_ms") = Stats.median(ack.subscribeMs.toSeq)
        out("cpu_ms_per_op") = Stats.median(ack.cpuMs.toSeq)
        out("cpu_samples_ms") = ack.cpuMs.toSeq
        out ++= Seq("samples_ms" -> samples, "attempted" -> ack.attempted,
          "failed" -> ack.failed, "contract_ok" -> contract)

      case "query_mix" =>
        val mix = new Mix(spark, args("data"), args("out"))
        mix.checkedPass()
        out("setup_end_ms") = System.currentTimeMillis()
        if (!trace) (0 until math.min(MixPasses, maxOps)).foreach(mix.timedPass)
        else {
          mix.timedPass(0)
          layers ++= mix.runTraced(1)
          mix.timedPass(2)
          def passMs(p: Int) = mix.execs.filter(_.pass == p)
            .map(e => e.buildS + e.runS).sum * 1e3
          layers("trace.overhead") =
            ratio(Seq(passMs(1)), Seq((passMs(0) + passMs(2)) / 2))
        }
        out("heap_live_mb") = liveHeapMb()
        mix.dumpChecked()
        val plainCpu = mix.passCpuNs.filter { case (p, _) => !trace || p != 1 }.values
        out("cpu_ms_per_op") = plainCpu.sum / 1e6 / plainCpu.size
        out ++= Seq(
          "execs" -> mix.execs.map(e => Map("pass" -> e.pass, "query" -> e.query,
            "build_s" -> e.buildS, "run_s" -> e.runS, "ok" -> e.ok)),
          "oracles" -> mix.oracles, "contract_ok" -> true)

      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    out ++= Seq("peak_heap_mb" -> heap.peakMb, "layers" -> layers)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(args("result")), out)
    spark.stop()
    sys.exit(0)
  }

  /** Timed passes over the query mix. A fixed count, not a time
    * budget: the mix keeps warming up over its first passes, so a
    * host-dependent pass count would move the per-pass figures.
    */
  private val MixPasses = 2

  /** Heap still in use after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def ratio(traced: Seq[Double], plain: Seq[Double]): Double = {
    val p = Stats.median(plain)
    if (p > 0) Stats.median(traced) / p - 1 else 0.0
  }

  private def parse(argv: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        m(k) = argv(i + 1); i += 2
      } else { m(k) = ""; i += 1 }
    }
    m.toMap
  }
}
