package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One unit of client work. `write` ops store data; the rest answer a
  * query. `run` returns the op's output row count. An op whose result
  * is a DataFrame has `build`, and `run` consumes what it builds. */
final case class Op(name: String, write: Boolean, run: () => Long,
                    build: Option[() => DataFrame] = None)

/** One timed op of the measured loop. */
final case class Sample(op: String, write: Boolean, ms: Double, ok: Boolean)

/** The benchmark's JVM side: sets up (session, seals, store builds, one
  * untimed pass over the target data), runs whole passes of the op list
  * (each in a seeded order) in a closed loop with one client for the
  * run length, and writes the end-to-end metrics (and, traced, the per-layer
  * metrics and the trace) for `run.py` to finish.
  *
  * Arguments: --workload --seed --seconds --trace --data --work --out */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val h = new Harness(a("workload"), a("seed").toLong, a("trace") == "1", a("data"), a("work"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = try h.run(a("seconds").toDouble, sessionS, t0) finally h.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json.obj(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

final class Harness(workload: String, seed: Long, traced: Boolean, data: String, work: String) {
  val spark: SparkSession = GraftSession.builder()
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  val trace = new Trace(spark, traced)
  private val errors = mutable.ArrayBuffer.empty[String]
  private val expected = mutable.HashMap.empty[String, Long]
  private val dumps = mutable.LinkedHashMap.empty[String, String]
  private var setupFailed = 0L
  private var store: Option[Store] = None

  def stop(): Unit = {
    store.foreach(_.stop())
    trace.stop()
    spark.stop()
  }

  private def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  // ------------------------------------------------------------------
  // ops

  /** An op from the engine's query catalogue: the builder call (which
    * may run eager jobs), then the action that consumes the output. */
  private def entryOp(name: String, dir: String): Op = frameOp(name, write = false,
    () => trace.span("core", name)(SparkEntry.queries(name)(spark, dir)))

  def frameOp(name: String, write: Boolean, build: () => DataFrame): Op =
    Op(name, write, () => consume(name, build()), Some(build))

  private def consume(name: String, df: DataFrame): Long = {
    if (traced) {
      df.queryExecution.executedPlan
      trace.addPhases(df.queryExecution)
    }
    trace.span("exec", name)(Consume(df))
  }

  /** eel's pipeline shape on the engine: ParquetSource -> Gds
    * filter / addField / join with orders -> partitioned ParquetSink
    * -> read back. */
  private def etlOp(dir: String): Op = frameOp("etl_parquet", write = true, () => {
    import org.apache.spark.sql.functions.{col, lit, year}
    import graft.sources.{ParquetSink, ParquetSource}
    val out = s"$work/etl"
    val li = trace.span("sources", "ParquetSource.read")(ParquetSource(s"$dir/lineitem.parquet").toGds(spark))
    val ord = trace.span("sources", "ParquetSource.read")(ParquetSource(s"$dir/orders.parquet").toGds(spark))
    val g = trace.span("core", "Gds.filter.addField.join") {
      li.filter(col("l_discount") >= 0.05)
        .addField("l_year", year(col("l_shipdate")))
        .addField("l_revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .renameField("l_orderkey", "o_orderkey")
        .projection("o_orderkey", "l_linenumber", "l_year", "l_revenue", "l_returnflag")
        .join("o_orderkey", ord.projection("o_orderkey", "o_custkey", "o_orderpriority"))
    }
    trace.span("sources", "ParquetSink.write")(ParquetSink(out, partitionCols = Seq("l_year")).write(g.df))
    trace.span("sources", "ParquetSource.read")(ParquetSource(out).read(spark))
  })

  private[perfbench] def workloadOps(dir: String): Seq[Op] = workload match {
    case "interactive_sf0.1" => Workloads.interactive.map(entryOp(_, dir)) :+ etlOp(dir)
    case "store_rw_sf0.1" =>
      val s = new Store(this, dir, s"$work/store", seed)
      store = Some(s)
      s.ops
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ------------------------------------------------------------------
  // set-up

  /** The set-up's pass over the target data: every distinct op once,
    * untimed. It compiles and warms every code path the measured passes
    * take, dumps each output that has a DuckDB oracle for the oracle
    * check, and records the row count every timed repeat must
    * reproduce. */
  private def targetPass(ops: Seq[Op]): Unit = ops.distinctBy(_.name).foreach { op =>
    trace.span("op", op.name) {
      try op.build.filter(_ => SparkEntry.oracleSql.contains(op.name)) match {
        case None => expected(op.name) = op.run()
        case Some(build) =>
          import org.apache.spark.sql.functions.{count, lit}
          val path = s"$work/dumps/${op.name}"
          val obs = org.apache.spark.sql.Observation()
          build().observe(obs, count(lit(1))).write.mode("overwrite").parquet(path)
          expected(op.name) = obs.get.values.head.asInstanceOf[Long]
          dumps(op.name) = path
      } catch { case e: Throwable => setupFailed += 1; fail(s"set-up ${op.name}", e) }
    }
    spark.catalog.clearCache()
  }

  // ------------------------------------------------------------------
  // measured loop

  def run(seconds: Double, sessionS: Double, t0: Long): Map[String, Any] = {
    trace.phase = "start"
    trace.record("session", "GraftSession.getOrCreate", sessionS)
    trace.phase = "seal"
    // the sealed relation graph_concomp shares with the other burst-graph ops
    if (workload == "interactive_sf0.1")
      trace.span("session", "Tables.burstPairs")(Tables.burstPairs(spark, data))
    trace.phase = "build"
    val ops = workloadOps(data)
    trace.phase = "warmup"
    trace.span("session", "target pass")(targetPass(ops))
    val setupS = (System.nanoTime() - t0) / 1e9

    trace.phase = "measure"
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Double]
    val rng = new Random(seed)
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // whole passes, at least one, while the next is expected to end
    // within the run length
    def nextFits = passes.isEmpty || elapsed + passes.sum / passes.size <= seconds
    while (nextFits && store.forall(_.canPass)) {
      val p0 = System.nanoTime()
      rng.shuffle(ops).foreach { op =>
        val s0 = System.nanoTime()
        val ok = trace.span("op", op.name) {
          try {
            val n = op.run()
            val good = expected.get(op.name).contains(n)
            if (!good) errors += s"${op.name}: $n rows, the checked run had ${expected.get(op.name)}"
            good
          } catch { case e: Throwable => fail(op.name, e); false }
        }
        samples += Sample(op.name, op.write, (System.nanoTime() - s0) / 1e6, ok)
        if (traced) trace.noteCachedBytes(spark.sparkContext.getRDDStorageInfo.map(i =>
          i.memSize + i.diskSize).sum)
        spark.catalog.clearCache()
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val wallS = elapsed
    // a run that measured nothing has no figures to report: it fails
    val noPass = if (passes.isEmpty) { errors += "no pass was measured"; 1L } else 0L

    trace.phase = "check"
    val (checked, checkFailed) = store.map(_.check(errors)).getOrElse((0L, 0L))

    val queries = samples.filterNot(_.write).toSeq
    // The median of a pass's mixed queries lands on whichever op sits in
    // the middle, and swings with that one op; the geometric mean of the
    // per-op medians weights every op alike and averages their noise.
    // The plain median and the write latency swing too much between runs
    // to carry a bound (see README), so they are reported with the
    // per-layer metrics.
    val queryGmeanMs = {
      val medians = queries.groupBy(_.op).values.map(s => Trace.median(s.map(_.ms)))
      if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
    }
    val appendMs = Trace.median(samples.filter(_.write).map(_.ms).toSeq)
    val e2e = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "query_gmean_ms" -> (queryGmeanMs, "ms"),
      "queries_per_s" -> (samples.size / wallS, "ops/s"))
    val layer: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else (trace.layerMetrics(passes.size, wallS, spark.sparkContext.defaultParallelism) ++
          store.map(_.layerMetrics).getOrElse(Store.noMetrics))
        .map { case (k, v) => k -> (v, Workloads.unit(k)) } ++
        e2e.map { case (k, v) => s"traced.$k" -> v } +
        ("traced.query_p50_ms" -> (Trace.median(queries.map(_.ms)), "ms")) +
        // the peak resident set varies with how far the heap grew before a
        // collection: more than a tenth between runs, so no bound
        ("exec.peak_rss_mb" -> (peakRssMb, "MB")) +
        ("traced.append_p50_ms" -> (appendMs, "ms"))
    if (traced) trace.write(s"$work/trace.json", Map("workload" -> workload, "seed" -> seed,
      "passes" -> passes.size, "wall_s" -> wallS))
    Map(
      "attempted" -> (samples.size + checked + noPass),
      "failed" -> (samples.count(!_.ok) + setupFailed + checkFailed + noPass),
      "samples" -> samples.map(s => Map("op" -> s.op, "ms" -> s.ms, "write" -> s.write, "ok" -> s.ok)),
      "passes" -> passes,
      "errors" -> errors,
      "dumps" -> dumps,
      "oracle" -> dumps.keys.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
