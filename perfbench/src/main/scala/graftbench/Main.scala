package graftbench

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured call into the program: its kind, wall time, whether it
  * succeeded and passed its output checks, and the input rows it consumed. */
final case class Op(kind: String, seconds: Double, ok: Boolean, rows: Long)

/** A seeded, closed-loop workload driven by one client thread. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    val seed: Long) {
  /** Op kind whose latency is the workload's headline (op_p50_s/op_p75_s). */
  def primary: String
  /** Build inputs and persistent state under a fresh directory. */
  def setup(dir: String): Unit
  /** Untimed warm-up on the state setup built. */
  def warmup(): Unit
  /** Run the next op(s); returns the ops it timed. */
  def step(): Seq[Op]
  /** False while a unit of work (a round of queries) is part-way done: the
    * timed window always ends on a whole unit. */
  def unitDone: Boolean = true
  /** Per-layer metrics (traced runs) from the timed spans. */
  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double]
  /** The workload's own end-to-end figures, kept in the artifact. */
  def extra(ops: Seq[Op]): Map[String, Double]

  val failures = ArrayBuffer.empty[String]

  /** Record a failed output check; the op that produced it counts as failed. */
  protected def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
    cond
  }

  /** Time `body` as a top-level span of kind `kind`. `body` returns the
    * input rows it consumed; a thrown exception makes the op fail. */
  protected def timed(kind: String)(body: => Long): Op =
    try {
      val (rows, s) = tracer.runSpan(kind)(body)
      Op(kind, s.seconds, ok = true, rows)
    } catch {
      case t: Throwable =>
        failures += s"$kind threw ${t.getClass.getSimpleName}: ${t.getMessage}"
        System.err.println(s"[perfbench] $kind FAILED: $t")
        t.printStackTrace()
        Op(kind, tracer.spans.last.seconds, ok = false, 0L)
    }
}

object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val loadStart = Stats.loadavg()
    val cpuStart = Stats.cpuTicks()
    val wall0 = System.nanoTime()

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkStartS = (System.nanoTime() - wall0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traced, Cores)
    val w: Workload = workload match {
      case "etl_batch" => new EtlBatch(spark, tracer, seed)
      case "query_mix" => new QueryMix(spark, tracer, seed)
      case "store_ingest" => new StoreIngest(spark, tracer, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val heap = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    w.setup(s"$work/data")
    val setupS = (System.nanoTime() - t0) / 1e9
    val tw = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    heap += Stats.postGcOldGenMb()
    val gc0 = Tracer.gcMillis()
    graft.bench.StageTimers.drain()
    val firstSpan = tracer.spans.size
    val ops = ArrayBuffer.empty[Op]
    var measured = 0.0
    while (measured < seconds || !w.unitDone) {
      val batch = w.step()
      ops ++= batch
      measured += batch.map(_.seconds).sum
    }
    val gcS = (Tracer.gcMillis() - gc0) / 1000.0
    heap += Stats.postGcOldGenMb()
    val spans = tracer.spans.drop(firstSpan).toSeq
    val loadEnd = Stats.loadavg()
    val cpuEnd = Stats.cpuTicks()
    // share of CPU time the hypervisor gave to other guests during the run
    val stealShare = (cpuEnd._2 - cpuStart._2).toDouble / math.max(1L, cpuEnd._1 - cpuStart._1)

    val failed = ops.count(!_.ok)
    val prim = ops.filter(_.kind == w.primary).map(_.seconds).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.quantile(prim, 0.5),
      "op_p75_s" -> Stats.quantile(prim, 0.75),
      "ops_per_s" -> ops.size / ops.map(_.seconds).sum,
      "peak_heap_mb" -> heap.max)
    val extra = w.extra(ops.toSeq) ++ Map(
      "error_rate" -> failed.toDouble / ops.size,
      "warmup_s" -> warmupS, "spark_start_s" -> sparkStartS,
      "measured_s" -> measured)
    val layers = if (traced) w.layers(ops.toSeq, spans) else Map.empty[String, Double]
    val correct = failed == 0 && w.failures.isEmpty
    val metrics = if (traced) layers else endToEnd
    def sorted(m: Map[String, Double]) = TreeMap(m.toSeq: _*)
    val result = ListMap(
      "correct" -> correct, "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> sorted(metrics))
    val artifact = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> Cores, "correct" -> correct,
      "attempted" -> ops.size, "failed" -> failed, "primary_samples" -> prim.size,
      "failures" -> w.failures.toSeq,
      "end_to_end" -> sorted(endToEnd),
      "workload_metrics" -> sorted(extra),
      "per_layer" -> sorted(layers),
      "heap_samples_mb" -> heap.toSeq,
      "env" -> ListMap("loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "cpu_steal_share" -> stealShare,
        "gc_s" -> gcS, "machine_cpus" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6),
      "ops" -> ops.toSeq.map(o => ListMap("kind" -> o.kind, "s" -> o.seconds,
        "ok" -> o.ok, "rows" -> o.rows)),
      "first_timed_span" -> firstSpan,
      "spans" -> tracer.spans.toSeq.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "ok" -> s.ok,
        "engine" -> sorted(s.engine), "timers" -> sorted(s.timers))))
    Files.write(opt("artifact"), artifact)
    Files.write(opt("result"), result)
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (all, steal) CPU ticks from the first line of /proc/stat; (0, 0) where
    * it cannot be read. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Old-generation occupancy right after a full collection: the live set.
    * Spark's cleaner releases broadcasts and shuffle state only after a
    * collection has cleared their last reference, and it can take longer
    * than one pause to do so; collections repeat until the reading stops
    * falling. */
  def postGcOldGenMb(): Double = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
    def collect(): Double = {
      System.gc()
      pools.map(_.getCollectionUsage.getUsed).sum / 1e6
    }
    var last = collect()
    var cur = last
    var rounds = 0
    while ({ Thread.sleep(200); cur = collect(); rounds += 1; last - cur > 1.0 && rounds < 8 })
      last = cur
    cur
  }

  def rowHash(cols: Seq[String]): Column = xxhash64(struct(cols.map(c => col(s"`$c`")): _*))

  /** Order-independent digest of a frame: row count, xor and sum of the
    * row hashes over every column. Equal multisets of rows give equal
    * digests, whatever the partitioning. */
  def digest(df: DataFrame): String = {
    val r = df.select(rowHash(df.columns.toSeq).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").cast("decimal(20,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}

object Par {
  /** Run independent untimed tasks (setup, warm-up) on `n` threads. */
  def run[T](n: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      }))
      fs.map(_.get())
    } finally pool.shutdown()
  }
}

object Files {
  /** Data files and bytes under `path` (hidden and marker files excluded). */
  def usage(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists()) return (0L, 0L)
    val fs = org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `value` as one line of JSON; NaN is written as the string "NaN". */
  def write(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(value) + "\n")
}
