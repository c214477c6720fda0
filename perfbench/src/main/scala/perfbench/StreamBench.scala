package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayIntersectSize, MinHashBands}
import graft.streaming.SemiStreamRuntime

/** The stream benchmark's JVM side. Runs one workload: a discarded warm-up
  * pass on a smaller seeded input, then timed passes for about `--seconds`
  * (at least one), each checked against the reference; with `--trace 1`,
  * one more pass under a SparkListener and a QueryExecutionListener, then
  * the probes: `SemiStreamRuntime.stage` (on `sim_join`), the kernels and,
  * on `kv_join`, an incremental-dedup stream over durable state. Writes
  * the raw record (per-batch progress, set-up calls, checks, resident
  * bytes) as JSON to `--out`, spans to `--spans`. `perfbench/run.py` turns
  * the record into metrics.
  *
  * Usage: StreamBench --workload W --seed N --seconds S --trace 0|1
  *   --cores C --root DIR --out FILE [--spans FILE]
  */
object StreamBench {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val root = Paths.get(args("root"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressCollector
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, progress, root, tmp)

    try {
      val t0 = System.currentTimeMillis()
      runPass(ctx, Workload(spark, name, seed ^ 0x7a3dL, warmup = true), traced = false,
        check = false)
      val tw = System.currentTimeMillis()
      val w = Workload(spark, name, seed, warmup = false)
      w.reference.count()
      val t1 = System.currentTimeMillis()
      System.err.println(s"perfbench: warm-up ${tw - t0} ms, input and reference ${t1 - tw} ms")

      // passes until --seconds: another starts only if one as long as the
      // last still ends in time
      val deadline = t1 + seconds * 1000L
      val passes = mutable.ArrayBuffer.empty[PassResult]
      var last = 0L
      while (passes.isEmpty || System.currentTimeMillis() + last <= deadline) {
        val s = System.currentTimeMillis()
        passes += runPass(ctx, w, traced = false, check = true)
        last = System.currentTimeMillis() - s
      }

      val traced = if (trace) Some(tracedPass(ctx, w, seed, cores, args.get("spans"))) else None

      val record = Map(
        "workload" -> name, "cores" -> cores, "passes" -> passes.map(_.toMap), "traced" -> traced)
      SpanLog.json.writeValue(Paths.get(args("out")).toFile, record)
    } finally spark.stop()
  }

  /** One pass with its checks: per-batch progress, the output compared with
    * the reference, and what the pass left resident (cached blocks of the
    * RDDs it created, plus bytes it added under the per-run root: temp
    * files, staged chunks, checkpoints and Spark's local dir).
    */
  def runPass(ctx: Ctx, w: Workload, traced: Boolean, check: Boolean): PassResult = {
    val term0 = ctx.progress.terminatedCount
    def resident() = if (check) Workload.settledSize(ctx.root) else 0L
    val root0 = resident()
    val firstRdd = ctx.spark.sparkContext.emptyRDD[Int].id
    try {
      val run = w.pass(ctx, traced)
      val batches = ctx.progress.drain(term0 + 1).map(b => b.copy(cadence = w.onCadence(b.batchId)))
      val rootBytes = resident() - root0
      val storage = ctx.spark.sparkContext.getRDDStorageInfo
        .filter(_.id > firstRdd).map(i => i.memSize + i.diskSize).sum
      run.release()
      val c0 = System.currentTimeMillis()
      val mismatches = if (check) w.mismatches(run.output) else 0L
      System.err.println(s"perfbench: pass of ${batches.size} batches, setup ${
        batches.headOption.map(_.startMs - run.entryMs).getOrElse(0L)} ms, latency ms ${
        batches.map(_.wallMs).mkString(" ")}, mismatched rows $mismatches (check ${
        System.currentTimeMillis() - c0} ms)")
      PassResult(run.entryMs, run.setupCalls, batches, w.batches,
        w.batches - batches.size + (if (mismatches > 0) 1 else 0), storage, rootBytes, run.layers)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        PassResult(0L, Nil, Nil, w.batches, w.batches, 0L, 0L, Map("error" -> e.toString))
    }
  }

  /** The traced pass: the same pass with every job, stage and executed
    * plan recorded, spans assembled around the calls into each layer, and
    * the kernel probes.
    */
  def tracedPass(ctx: Ctx, w: Workload, seed: Long, cores: Int,
      spansOut: Option[String]): Map[String, Any] = {
    val spark = ctx.spark
    val exec = new ExecCollector
    val plans = new PlanCounter
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    val pass = try runPass(ctx, w, traced = true, check = true)
    finally spark.listenerManager.unregister(plans)
    val jobs = exec.drain()
    spark.sparkContext.removeSparkListener(exec)

    val log = new SpanLog
    val stageMs = stageProbe(w, log)
    val kernels = kernelProbe(spark, w.tokens, cores, log)
    // on kv_join, whose traced run is the shorter one
    val dedup = w match {
      case _: KvJoin => Some(runPass(ctx, DedupState.probe(spark, seed), traced = true, check = true))
      case _ => None
    }
    val misattributed = passSpans(log, pass, jobs)
    spansOut.foreach(p => log.write(Paths.get(p)))
    Map(
      "pass" -> pass.toMap,
      "dedup" -> dedup.map(_.toMap),
      "stage_probe_ms" -> stageMs,
      "kernels" -> kernels,
      "simjoin" -> Map("candidates" -> plans.candidates.get, "verified" -> plans.verified.get),
      "jobs_property_mismatch" -> misattributed,
      "spans" -> log.all.map(_.toMap))
  }

  /** Builds the pass's spans: pass → set-up (→ its calls) and pass →
    * trigger → addBatch → jobs. A job belongs to the batch its
    * `streaming.sql.batchId` property names when it started inside that
    * trigger, else to the trigger whose interval holds its start. Returns
    * how many jobs carried a batch property that disagreed with the time.
    */
  private def passSpans(log: SpanLog, pass: PassResult, jobs: Seq[JobRecord]): Int = {
    if (pass.batches.isEmpty) return 0
    val firstTrigger = pass.batches.head.startMs
    val lastEnd = pass.batches.map(_.endMs).max
    val root = log.add(None, "pass", "pass", "bench", pass.entryMs, lastEnd)
    val setup = log.add(Some(root), "setup", "setup", "bench", pass.entryMs, firstTrigger)
    pass.setupCalls.foreach { case (n, s, e) =>
      log.add(Some(setup), "setup", n, Layers(n.takeWhile(_ != '.')), s, e)
    }
    final case class B(rec: BatchRecord, trigger: Int, add: Int)
    val bs = pass.batches.map { b =>
      val trace = s"batch${b.batchId}"
      val t = log.add(Some(root), trace, "trigger", "streaming.runtime", b.startMs, b.endMs,
        Map("batch" -> b.batchId, "rows" -> b.rows, "cadence" -> b.cadence))
      val (as, ae) = b.addBatchSpan
      B(b, t, log.add(Some(t), trace, "add_batch", "streaming.runtime", as, ae))
    }
    def within(j: JobRecord, b: BatchRecord, slackMs: Long) =
      j.startMs >= b.startMs - slackMs && j.startMs <= b.endMs + slackMs
    var mismatch = 0
    // jobs after the last batch are the output check, not the pass
    jobs.filter(_.startMs <= lastEnd).foreach { j =>
      val byTime = bs.find(b => within(j, b.rec, 0L))
      val byProp = for {
        q <- j.queryId; id <- j.batchId
        b <- bs.find(b => b.rec.queryId == q && b.rec.batchId == id)
        if within(j, b.rec, 2L)
      } yield b
      if (j.batchId.isDefined && byProp.isEmpty) mismatch += 1
      val attrs = Map[String, Any]("job" -> j.jobId, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes)
      byProp.orElse(byTime) match {
        case Some(b) =>
          val (as, ae) = b.rec.addBatchSpan
          val parent = if (j.startMs >= as && j.startMs <= ae) b.add else b.trigger
          log.add(Some(parent), s"batch${b.rec.batchId}", "job", "spark", j.startMs, j.endMs, attrs)
        case None =>
          val parent = if (j.startMs < firstTrigger) setup else root
          log.add(Some(parent), "setup", "job", "spark", j.startMs, j.endMs, attrs)
      }
    }
    mismatch
  }

  /** `SemiStreamRuntime.stage` on the workload's stream input, timed on its
    * own (the document workloads call it inside their entry point).
    */
  private def stageProbe(w: Workload, log: SpanLog): Long = w match {
    case d: DocWorkload =>
      log.timed(None, "probe", "runtime.stage", "streaming.runtime") {
        SemiStreamRuntime.stage(d.input, "doc_id", d.batches)
      }._2
    case _ => 0L
  }

  /** Rows per second of `intersect_size` and `minhash_bands` over the
    * workload's own token arrays, materialized once and replicated to a
    * size where the kernel, not job overhead, dominates; median of 3 runs.
    */
  private def kernelProbe(spark: SparkSession, toks: DataFrame, cores: Int,
      log: SpanLog): Map[String, Double] = {
    ArrayIntersectSize.register(spark)
    MinHashBands.register(spark)
    val n = toks.count()
    val reps = math.max(1L, KernelRows / math.max(1L, n))
    def replicate(df: DataFrame) = Workload.persisted(
      df.withColumn("rep", explode(sequence(lit(1L), lit(reps)))).drop("rep").repartition(cores))
    val single = replicate(toks.select("toks"))
    val pairs = replicate(
      toks.select(col("sid"), col("toks").as("a"))
        .join(toks.select((col("sid") - 1).as("sid"), col("toks").as("b")), "sid")
        .select("a", "b"))
    def rate(name: String, df: DataFrame, agg: Column): Double = {
      val rows = df.count()
      val times = (1 to 3).map(_ => log.timed(None, "probe", name, "functions")(df.agg(agg).collect())._2).sorted
      rows / math.max(1L, times(1)).toDouble * 1000.0
    }
    val out = Map(
      "intersect_size" -> rate("kernel.intersect_size", pairs,
        sum(ArrayIntersectSize.intersect_size(col("a"), col("b")))),
      "minhash_bands" -> rate("kernel.minhash_bands", single,
        sum(size(MinHashBands.minhash_bands(col("toks"), 32, 3)))))
    single.unpersist(); pairs.unpersist()
    out
  }

  private val KernelRows = 400000L

  /** Module of each set-up call, by the prefix of its name. */
  private val Layers =
    Map("kvstore" -> "sources.kvstore", "runtime" -> "streaming.runtime", "cache" -> "streaming.cache")
}

/** What one pass recorded. `failed` counts batches that did not run plus
  * one for an output that differs from the reference.
  */
final case class PassResult(
    entryMs: Long,
    setupCalls: Seq[(String, Long, Long)],
    batches: Seq[BatchRecord],
    attempted: Int,
    failed: Int,
    storageBytes: Long,
    rootBytes: Long,
    layers: Map[String, Any]) {
  def toMap: Map[String, Any] = Map(
    "entry_ms" -> entryMs,
    "setup_calls" -> setupCalls.map { case (n, s, e) =>
      Map("name" -> n, "start_ms" -> s, "end_ms" -> e) },
    "batches" -> batches.map(_.toMap),
    "attempted" -> attempted, "failed" -> failed,
    "storage_bytes" -> storageBytes, "root_bytes" -> rootBytes,
    "layers" -> layers)
}
