package perfbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.sources.KeyValueStore
import graft.streaming.{CacheManager, FixedRule, SemiStreamRuntime, SemiStreamSimilarityJoin, StreamingDedup}

/** What one pass needs from the harness: the session, the progress
  * listener, the per-run root (which holds `java.io.tmpdir` and
  * `spark.local.dir`) and the temp dir under it.
  */
final class Ctx(val spark: SparkSession, val progress: ProgressCollector, val root: Path,
    val tmp: Path) {
  private var n = 0
  def freshDir(prefix: String): Path = { n += 1; tmp.resolve(s"$prefix-$n") }
}

/** What a pass hands back before its result is checked: the accumulated
  * output, the timed set-up calls, per-layer observations (traced passes),
  * and a release hook that runs after resident storage is measured.
  */
final case class PassRun(
    entryMs: Long,
    output: DataFrame,
    setupCalls: Seq[(String, Long, Long)],
    layers: Map[String, Any],
    release: () => Unit)

/** One workload at one input size. A pass is one complete entry into the
  * engine: set-up, then a closed-loop stream of `batches` micro-batches.
  */
trait Workload {
  def batches: Int

  /** Streaming batch `b` falls on the checkpoint or compaction cadence. */
  def onCadence(b: Long): Boolean

  /** The reference output, computed with plain Spark. */
  def reference: DataFrame

  /** The token arrays the kernel probes run over: `(sid, toks)`. */
  def tokens: DataFrame

  def pass(ctx: Ctx, traced: Boolean): PassRun

  /** Rows in which `out` and the reference differ (as multisets). */
  def mismatches(out: DataFrame): Long = Workload.diff(out, reference)
}

object Workload {
  val Tau = 0.8
  /** Cadence of the CacheManager checkpoint: `SemiStreamSimilarityJoin`
    * fixes it at 4, and `kv_join` uses the same.
    */
  val Cycle = 4

  /** The workload at its timed size (one cadence cycle), or at its warm-up
    * size: a smaller input streamed as one batch. The `kv_join` warm-up
    * checkpoints its cache on that batch, so the timed pass's checkpoint is
    * not the first one the JVM runs.
    */
  def apply(spark: SparkSession, name: String, seed: Long, warmup: Boolean): Workload = {
    val batches = if (warmup) 1 else Cycle
    name match {
      case "kv_join" => new KvJoin(spark, seed, batches, if (warmup) 1 else Cycle)
      case "sim_join" => new SimJoin(spark, seed, if (warmup) 60 else 800, batches)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def diff(out: DataFrame, ref: DataFrame): Long = {
    val cols = ref.columns.sorted.map(col).toSeq
    val a = out.select(cols: _*)
    val b = ref.select(cols: _*)
    a.exceptAll(b).count() + b.exceptAll(a).count()
  }

  /** Same tokens as the engine's tokenizer: distinct non-empty words. */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id").as("sid"),
        array_distinct(filter(split(col("text"), " "), t => length(t) > 0)).as("toks"))
      .filter(size(col("toks")) > 0)

  /** Every ordered pair of distinct documents with Jaccard >= tau, exactly:
    * a length-pruned cross join (a pair below the length bound cannot reach
    * tau) with Spark's own `array_intersect`.
    */
  def exactPairs(docs: DataFrame): DataFrame = {
    val t = tokenize(docs).withColumn("len", size(col("toks")))
    val x = t.select(col("sid").as("x_id"), col("toks").as("x_toks"), col("len").as("x_len"))
    val y = t.select(col("sid").as("y_id"), col("toks").as("y_toks"), col("len").as("y_len"))
    x.crossJoin(y)
      .filter(col("x_id") =!= col("y_id") &&
        col("y_len") >= col("x_len") * Tau - 1e-4 && col("y_len") * Tau <= col("x_len") + 1e-4)
      .withColumn("inter", size(array_intersect(col("x_toks"), col("y_toks"))))
      .withColumn("uni", col("x_len") + col("y_len") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= Tau)
      .select("x_id", "y_id", "inter", "uni")
  }

  /** Bytes and files under `p` (0 when absent). A file or directory that
    * Spark's cleaner removes during the walk is not counted.
    */
  def treeSize(p: Path): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) { bytes += a.size; files += 1 }
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    (bytes, files)
  }

  /** Bytes under `p` once Spark's cleaner has dropped what nothing
    * references any more (shuffle files, blocks of collected RDDs): a full
    * GC queues them, and the size is read when two reads 250 ms apart agree
    * (at most 5 s). What is left is what the run keeps.
    */
  def settledSize(p: Path): Long = {
    System.gc()
    val until = System.currentTimeMillis() + 5000L
    var last = -1L
    var size = treeSize(p)._1
    while (size != last && System.currentTimeMillis() < until) {
      Thread.sleep(250)
      last = size
      size = treeSize(p)._1
    }
    size
  }

  def persisted(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
}

/** DS-Join shape: `lineitem` micro-batches join `part` through the
  * CacheManager, whose misses are fetched from the key-value store.
  */
final class KvJoin(spark: SparkSession, seed: Long, val batches: Int, checkpointEvery: Int)
    extends Workload {
  import KvJoin._

  private val partRows = Workload.persisted(Inputs.part(spark, seed, Parts))
  private val seedRows = Workload.persisted(Inputs.cacheSeed(partRows, seed, CacheSeedShare))
  private val stream = Workload.persisted(
    Inputs.lineitem(spark, seed + 1, batches * RowsPerBatch, Parts))

  def onCadence(b: Long): Boolean = (b + 1) % checkpointEvery == 0
  lazy val reference: DataFrame = Workload.persisted(stream.join(partRows, Seq("key")))
  def tokens: DataFrame = partRows.select(
    col("key").as("sid"), split(substring_index(col("value"), "|", 1), " ").as("toks"))

  def pass(ctx: Ctx, traced: Boolean): PassRun = {
    val entry = System.currentTimeMillis()
    val calls = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def timed[T](name: String)(f: => T): T = {
      val s = System.currentTimeMillis()
      val r = f
      calls += ((name, s, System.currentTimeMillis()))
      r
    }
    val storeDir = ctx.freshDir("kvstore").toString
    timed("kvstore.write")(KeyValueStore.write(partRows, storeDir, "key", "value", Buckets))
    val staged = timed("runtime.stage")(SemiStreamRuntime.stage(stream, "l_rowid", batches))

    // the fetch runs at the start of every batch, while the cache is still
    // the one the previous batch left: the traced pass reads its partitions
    val cacheParts = mutable.ArrayBuffer.empty[Int]
    var manager: CacheManager = null
    val fetch: DataFrame => DataFrame = { keys =>
      if (traced) cacheParts += manager.cacheSnapshot.rdd.getNumPartitions
      KeyValueStore.fetchByKeys(storeDir, keys, "key", FetchDelayUs)
    }
    manager = timed("cache.construct")(new CacheManager(
      KeyValueStore.read(spark, storeDir, FetchDelayUs), seedRows, "key",
      checkpointEvery = checkpointEvery, windowRule = FixedRule(Window),
      fetchOverride = Some(fetch)))

    val opened0 = KeyValueStore.bucketsOpened.get()
    val out = SemiStreamRuntime.run(spark, staged, stream.schema, manager)
    val layers =
      if (!traced) Map.empty[String, Any]
      else {
        val opened = KeyValueStore.bucketsOpened.get() - opened0
        cacheParts += manager.cacheSnapshot.rdd.getNumPartitions
        // distinct keys each batch probed: chunk i is batch i
        val keysPerBatch = spark.read.parquet(staged.toString)
          .withColumn("f", input_file_name())
          .groupBy("f").agg(countDistinct("key").as("k"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).map(_._2)
        Map(
          "buckets_opened" -> opened,
          "cache_partitions" -> cacheParts.drop(1).toList,
          "keys_per_batch" -> keysPerBatch.toList,
          "batch_stats" -> manager.stats.toList.map(statsMap))
      }
    PassRun(entry, out, calls.toList, layers, () => manager.close())
  }
}

object KvJoin {
  val Parts = 20000
  val RowsPerBatch = 2000
  val CacheSeedShare = 0.3
  val FetchDelayUs = 100L
  val Window = 4
  val Buckets = 32

  def statsMap(s: CacheManager.BatchStats): Map[String, Any] =
    Map("missed" -> s.missed, "cache_ms" -> s.cacheMs, "window" -> s.window)
}

/** Shared input of the two document workloads. */
abstract class DocWorkload(spark: SparkSession, seed: Long, docCount: Int) extends Workload {
  protected val docs: DataFrame = Workload.persisted(Inputs.documents(spark, seed, docCount))
  def input: DataFrame = docs
  def tokens: DataFrame = Workload.tokenize(docs)
  protected lazy val pairs: DataFrame = Workload.persisted(Workload.exactPairs(docs))
}

/** DSim-Join shape: the stream probes the corpus' own signature index
  * through the CacheManager; verification is exact Jaccard.
  */
final class SimJoin(spark: SparkSession, seed: Long, docCount: Int, val batches: Int)
    extends DocWorkload(spark, seed, docCount) {

  def onCadence(b: Long): Boolean = (b + 1) % Workload.Cycle == 0
  def reference: DataFrame = pairs

  def pass(ctx: Ctx, traced: Boolean): PassRun = {
    val entry = System.currentTimeMillis()
    val r = SemiStreamSimilarityJoin.run(
      docs, "doc_id", "text", Workload.Tau, chunks = batches,
      windowRule = FixedRule(SimJoin.Window))
    val layers =
      if (!traced) Map.empty[String, Any]
      else Map("batch_stats" -> r.stats.toList.map(KvJoin.statsMap))
    PassRun(entry, r.pairs, Nil, layers, () => ())
  }
}

object SimJoin {
  val Window = 4
}

/** Incremental dedup over durable parquet state that every batch appends
  * to and that is compacted on a fixed cadence. Runs as a probe of the
  * traced `kv_join` run, over a smaller corpus in the `sim_join` shape.
  */
final class DedupState(spark: SparkSession, seed: Long, docCount: Int, val batches: Int,
    compactEvery: Int) extends DocWorkload(spark, seed, docCount) {

  def onCadence(b: Long): Boolean = b > 0 && b % compactEvery == 0

  /** Each document's smallest earlier duplicate, -1 if none. Earlier means
    * an earlier batch, or the same batch and a smaller id; batches are
    * assigned by the engine's own hash of the id, as the dedup stream
    * stages them.
    */
  lazy val reference: DataFrame = {
    val batchOf: Column => Column = id => floor(Sampling.hashUniform(id) * batches)
    val ids = Workload.tokenize(docs).select(col("sid").as("doc_id"))
    val earlier = pairs
      .filter(batchOf(col("y_id")) < batchOf(col("x_id")) ||
        (batchOf(col("y_id")) === batchOf(col("x_id")) && col("y_id") < col("x_id")))
      .groupBy(col("x_id").as("doc_id")).agg(min("y_id").as("dup_of"))
    Workload.persisted(ids.join(earlier, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of")))
  }

  def pass(ctx: Ctx, traced: Boolean): PassRun = {
    val entry = System.currentTimeMillis()
    val work = ctx.freshDir("dedup")
    val out = StreamingDedup.run(
      docs, "doc_id", "text", Workload.Tau, chunks = batches,
      workDir = Some(work.toString), compactEvery = compactEvery)
    val layers =
      if (!traced) Map.empty[String, Any]
      else {
        val (bytes, files) = Workload.treeSize(work.resolve("state"))
        Map("state_bytes" -> bytes, "state_files" -> files)
      }
    PassRun(entry, out, Nil, layers, () => ())
  }
}

object DedupState {
  /** The durable-state probe: two batches, the second compacts. */
  def probe(spark: SparkSession, seed: Long): DedupState =
    new DedupState(spark, seed ^ 0xdedL, 400, 2, compactEvery = 1)
}
