package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The analytics query mix through `SparkEntry.queries`.
  *
  * The first pass (untimed) collects every result; `dumpChecked()`
  * writes them to `outDir/<query>` for the oracle check once timing is
  * over. The timed passes come in between, each
  * query built by its `SparkEntry.queries` function and run through
  * the `noop` sink as `graft.Bench` does. Caches and the dedup/graph
  * memos are released after every query and every pass so each timed
  * pass does the same work.
  */
final class Mix(spark: SparkSession, dataDir: String, outDir: String) {
  import Mix._

  /** One query execution: pass index (-1 = the checked pass). */
  final case class Exec(pass: Int, query: String, buildS: Double,
      runS: Double, ok: Boolean, startMs: Long, endMs: Long)

  val execs = mutable.ArrayBuffer.empty[Exec]

  private def release(): Unit = {
    spark.catalog.clearCache()
    graft.queries.Dedup.releaseShared(spark, dataDir)
    graft.queries.Graphs.releaseShared(spark, dataDir)
  }

  private val checked = mutable.ArrayBuffer.empty[(String, Array[Row], StructType)]

  /** Run each query once and collect its result. */
  def checkedPass(): Unit = {
    Queries.foreach { q =>
      val w0 = System.currentTimeMillis()
      val ok = try {
        val df = SparkEntry.queries(q)(spark, dataDir)
        checked += ((q, df.collect(), df.schema))
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: $e")
        false
      }
      execs += Exec(-1, q, 0, 0, ok, w0, System.currentTimeMillis())
      spark.catalog.clearCache()
    }
    release()
  }

  /** Write the checked pass's results as parquet for the oracle
    * comparison; a result that fails to write shows up there as missing.
    */
  def dumpChecked(): Unit = checked.foreach { case (q, rows, schema) =>
    try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$q")
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] writing $q's result failed: $e")
    }
  }

  /** Process CPU time (ns) of each timed pass. */
  val passCpuNs = mutable.LinkedHashMap.empty[Int, Long]

  /** One timed pass over the mix. */
  def timedPass(pass: Int): Unit = {
    val cpu0 = Jvm.cpuNs
    Queries.foreach { q =>
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = SparkEntry.queries(q)(spark, dataDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed in pass $pass: $e")
        false
      }
      val t2 = System.nanoTime()
      execs += Exec(pass, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok, w0,
        System.currentTimeMillis())
      spark.catalog.clearCache()
    }
    passCpuNs(pass) = Jvm.cpuNs - cpu0
    release()
  }

  /** One traced pass; per-layer metrics per pass. */
  def runTraced(pass: Int): Map[String, Double] = {
    val tracer = new Tracer(spark)
    tracer.start()
    timedPass(pass)
    val mine = execs.filter(_.pass == pass).toSeq
    tracer.finish(1, mine.map(e => (e.startMs, e.endMs))) ++
      mine.flatMap(e => Seq(
        s"query.${e.query}.build_s" -> e.buildS,
        s"query.${e.query}.run_s" -> e.runS))
  }

  def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
}

object Mix {
  /** Six batch queries over five packs: TPC-H aggregation (q01), the
    * top-k rewrite (q09), the batch CEP pattern (e25), a bloom-pruned
    * join (x08), the minhash dedup memo (d03) and the graph memo with
    * iterative PageRank (g01).
    */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q09_segment_top_orders",
    "e25_cep_pattern", "x08_bloom_prune_join", "d03_minhash_bands",
    "g01_pagerank")
}
