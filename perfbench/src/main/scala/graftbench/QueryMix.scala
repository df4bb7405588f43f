package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Analyst traffic: every read-only q-tier query (q01-q51, the banking
  * analytics surface of `SparkEntry.queries`) once per round, in a seeded
  * order, over the engine's fixed sf0.001 test fixture. The seed sets only
  * the order. One op is one query: build the DataFrame, then force every
  * output column the way `graft.Bench` does, through one hash aggregate
  * over the full row. */
final class QueryMix(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import QueryMix._

  val primary = "query"
  private var dir = ""
  private val names = graft.SparkEntry.queries.keys.toSeq
    .filter(n => n.matches("q\\d\\d_.*") && !WriteBack.contains(n.take(3))).sorted
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
  private val rng = new scala.util.Random(seed)
  private var round = Seq.empty[String]
  /** Result digest of each query's first run; later runs must match it. */
  private val reference = mutable.Map.empty[String, String]
  /** (query, its top-level span) per timed query. */
  private val runs = mutable.ArrayBuffer.empty[(String, Span)]

  /** Opens every fixture table and checks that it holds rows. */
  def setup(d: String): Unit = {
    dir = Fixture
    val rows = Par.run(Threads)(Tables.map(t =>
      () => spark.read.parquet(s"$dir/$t.parquet").count()))
    Tables.zip(rows).foreach { case (t, n) => check(n > 0, s"fixture table $t is empty") }
  }

  /** One untimed run of every query, four at a time: it pays the JIT and
    * code-generation warm-up and records each query's reference digest. */
  def warmup(): Unit =
    names.zip(Par.run(Threads)(names.map(n => () => Stats.digest(fns(n)(spark, dir)))))
      .foreach { case (n, d) => reference(n) = d }

  override def unitDone: Boolean = round.isEmpty

  /** Build, then force; returns the result digest. */
  private def runQuery(name: String): String = {
    val df = tracer.span("query.build")(fns(name)(spark, dir))
    tracer.span("query.exec")(Stats.digest(df))
  }

  def step(): Seq[Op] = {
    if (round.isEmpty) round = rng.shuffle(names)
    val name = round.head
    round = round.tail
    var d = ""
    val op = timed(primary) { d = runQuery(name); 1L }
    runs += ((name, tracer.spans.last))
    val ok = op.ok && check(d == reference(name),
      s"$name result $d differs from its first run ${reference(name)}")
    Seq(op.copy(ok = ok))
  }

  def extra(ops: Seq[Op]): Map[String, Double] = {
    val q = ops.filter(_.kind == primary).map(_.seconds)
    Map("query_p50_s" -> Stats.quantile(q, 0.5),
      "query_p90_s" -> Stats.quantile(q, 0.9),
      "queries_per_s" -> q.size / q.sum)
  }

  /** Per query name, the median over its runs; then the mean over the
    * query set. Each query's counts are fixed by its plan and data, so the
    * count figures repeat exactly between runs, whatever the seed. */
  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double] = {
    val named = runs.toSeq.groupBy(_._1)
    def perQuery(f: Span => Double): Double = {
      val meds = named.values.map(rs => Stats.median(rs.map(r => f(r._2))))
      meds.sum / meds.size
    }
    val byId = spans.groupBy(_.parent)
    def child(s: Span, n: String) = byId.getOrElse(s.id, Nil).find(_.name == n)
    val engine = LayerListener.Metrics.map { m =>
      s"spark.$m" -> perQuery(_.engine.getOrElse(m, 0.0))
    }
    (engine ++ Seq(
      "queries.build_s" -> perQuery(s => child(s, "query.build").map(_.seconds).getOrElse(0.0)),
      "queries.exec_s" -> perQuery(s => child(s, "query.exec").map(_.seconds).getOrElse(0.0)),
      "queries.jobs_per_query" -> perQuery(_.engine.getOrElse("jobs", 0.0)))).toMap
  }
}

object QueryMix {
  /** The fixture, relative to the checkout root (the harness's working
    * directory): the tables the q-tier queries read, copied unchanged from
    * the engine's sf0.001 test data (TESTDATA.md). */
  val Fixture = "perfbench/fixture"
  val Tables = Seq("region", "nation", "customer", "supplier", "orders",
    "lineitem", "events", "documents")
  /** Untimed setup and warm-up run this many tasks at once, one per core. */
  val Threads = 4
  /** q-tier queries that write files and read them back (roundtrips,
    * the orchestrator, compaction, the seed generator): the load path,
    * which the etl_batch workload measures, not analyst reads. */
  val WriteBack = Set("q20", "q34", "q36", "q37", "q38", "q39", "q40", "q43",
    "q44", "q45", "q48", "q51")
}
