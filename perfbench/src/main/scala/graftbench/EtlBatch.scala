package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{AppConfig, Config, Orchestrator}
import graft.seed.DataSeed

/** The reference's own job: one op is one daily batch, the orchestrator
  * running the customer, account and transaction pipelines over the seeded
  * CSV drop (extract -> transform -> quality gate -> load). The warm-up
  * batch creates the dimension tables; every later batch replays the same
  * input through the keyed-upsert, staging-swap path, and the transaction
  * target is overwritten. */
final class EtlBatch(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload(spark, tracer, seed) {
  import EtlBatch._

  val primary = "batch"
  private var raw = ""
  private var out = ""
  private var orch: Orchestrator = _
  private var inputRows = Map.empty[String, Long]
  private var reference = Map.empty[String, String]
  /** (files, bytes) the sinks wrote, per timed batch. */
  private val written = ArrayBuffer.empty[(Long, Long)]

  def setup(dir: String): Unit = {
    raw = s"$dir/raw"
    out = s"$dir/out"
    new DataSeed(spark, seed).writeAll(raw, Customers, Accounts, Transactions)
  }

  def warmup(): Unit = {
    orch = new Orchestrator(spark, PipelineConfig, raw, out)
    inputRows = Sources.keys.zip(Par.run(Sources.size)(Sources.values.toSeq.map { path =>
      () => spark.read.option("header", "true").csv(s"$raw/$path").count()
    })).toMap
    // batch 1 creates the dimension tables; timed batches upsert into them
    runBatch()
    reference = Targets.map { case (name, path) => name -> table(name, path)._3 }
  }

  /** `Orchestrator.runAll`, one span per pipeline. */
  private def runBatch(): Unit =
    PipelineConfig.pipelinesToRun.foreach { name =>
      tracer.span(s"pipeline.$name")(orch.runPipeline(name))
    }

  /** (rows, distinct keys, contents digest) of a loaded table, in one pass.
    * Columns computed against today's date stay out of the digest. */
  private def table(name: String, path: String): (Long, Long, String) = {
    val df = spark.read.parquet(s"$out/$path")
    val keys = Keys.get(name).map(k => countDistinct(col(k))).getOrElse(count(lit(1)))
    val kept = df.columns.filterNot(DateRelative.contains).toSeq
    val r = df.withColumn("__h", Stats.rowHash(kept))
      .agg(count(lit(1)), keys, expr("bit_xor(__h)"), sum(col("__h").cast("decimal(20,0)")))
      .head()
    (r.getLong(0), r.getLong(1), s"${r.get(2)}:${r.get(3)}")
  }

  /** Loaded rows equal input rows, dimension keys are unique after the
    * upsert, and the loaded tables equal batch 1's. */
  private def verify(label: String): Boolean =
    Targets.toSeq.map { case (name, path) =>
      val (n, keys, digest) = table(name, path)
      Seq(check(n == inputRows(name), s"$label: $name loaded $n rows, input ${inputRows(name)}"),
        check(keys == n, s"$label: $name has $keys distinct keys in $n rows"),
        check(digest == reference(name), s"$label: $name contents differ from batch 1"))
        .forall(identity)
    }.forall(identity)

  private var batchNo = 1
  def step(): Seq[Op] = {
    batchNo += 1
    val qr = Files.usage(s"$out/quality_results")
    val op = timed(primary) { runBatch(); inputRows.values.sum }
    val after = Targets.values.toSeq.map(p => Files.usage(s"$out/$p")) :+ {
      val q = Files.usage(s"$out/quality_results"); (q._1 - qr._1, q._2 - qr._2)
    }
    written += ((after.map(_._1).sum, after.map(_._2).sum))
    val ok = op.ok && verify(s"batch $batchNo")
    Seq(op.copy(ok = ok))
  }

  def extra(ops: Seq[Op]): Map[String, Double] = {
    val b = ops.filter(_.kind == primary)
    Map("etl_batch_s" -> Stats.median(b.map(_.seconds)),
      "etl_rows_per_s" -> Stats.median(b.map(o => o.rows / o.seconds)))
  }

  def layers(ops: Seq[Op], spans: Seq[Span]): Map[String, Double] = {
    val batches = spans.filter(_.name == primary)
    val engine = LayerListener.Metrics.map { m =>
      s"spark.$m" -> Stats.median(batches.map(_.engine.getOrElse(m, 0.0)))
    }
    val byId = batches.map(_.id).toSet
    val children = spans.filter(s => byId.contains(s.parent))
    val pipelines = PipelineConfig.pipelinesToRun.flatMap { name =>
      val ss = children.filter(_.name == s"pipeline.$name")
      (s"pipeline.${name}_s" -> Stats.median(ss.map(_.seconds))) +:
        Seq("transform", "quality", "load").map { phase =>
          s"pipeline.$name.${phase}_s" ->
            Stats.median(ss.map(_.timers.getOrElse(s"pipeline.$phase", 0.0)))
        }
    }
    val sinks = Seq(
      "sinks.files_written" -> Stats.median(written.map(_._1.toDouble).toSeq),
      "sinks.mb_written" -> Stats.median(written.map(_._2 / 1e6).toSeq))
    (engine ++ pipelines ++ sinks).toMap
  }
}

object EtlBatch {
  /** Input size: transactions, with dimensions at ~1/50 and ~1/30 of it. */
  val Transactions = 20000
  val Customers: Int = Transactions / 50
  val Accounts: Int = Transactions / 30

  /** Input directory per pipeline (DataSeed's layout). */
  val Sources = Map("customer" -> "customers", "account" -> "accounts",
    "transaction" -> "transactions")
  /** Loaded table per pipeline. */
  val Targets = Map("customer" -> "dim_customer", "account" -> "dim_account",
    "transaction" -> "processed/transactions")
  val Keys = Map("customer" -> "customer_id", "account" -> "account_id")
  /** Columns computed against today's date; excluded from the digests. */
  val DateRelative = Seq("age", "tenure_years", "account_age_days",
    "days_since_activity", "is_dormant")

  /** The pipeline demo's configuration, with the transaction target in
    * overwrite mode so replayed batches do not accumulate rows. */
  val PipelineConfig: AppConfig = Config.fromJson(
    """{
      |  "app_name": "Banking ETL Pipeline", "environment": "bench",
      |  "pipelines_to_run": ["customer", "account", "transaction"],
      |  "pipelines": {
      |    "customer": {"source_type": "s3", "source_path": "customers",
      |      "target_type": "redshift", "target_table": "dim_customer",
      |      "key_columns": ["customer_id"], "fail_on_quality_check": true,
      |      "data_quality": {"table_name": "dim_customer",
      |        "required_columns": ["customer_id","first_name","last_name","email"],
      |        "key_columns": ["customer_id"],
      |        "range_checks": {"credit_score": [300, 850]}}},
      |    "account": {"source_type": "rds", "source_table": "accounts",
      |      "target_type": "redshift", "target_table": "dim_account",
      |      "key_columns": ["account_id"], "fail_on_quality_check": true,
      |      "data_quality": {"table_name": "dim_account",
      |        "required_columns": ["account_id","customer_id","account_type","open_date"],
      |        "key_columns": ["account_id"],
      |        "range_checks": {"balance": [0, 10000000], "interest_rate": [0, 30]}}},
      |    "transaction": {"source_type": "s3", "source_path": "transactions",
      |      "target_type": "s3", "target_path": "processed/transactions",
      |      "write_mode": "overwrite",
      |      "partition_cols": ["transaction_year", "transaction_month"],
      |      "fail_on_quality_check": false,
      |      "data_quality": {"table_name": "fact_transaction",
      |        "required_columns": ["transaction_id","account_id","transaction_date","amount"],
      |        "key_columns": ["transaction_id"],
      |        "range_checks": {"amount": [0, 1000000]}}}
      |  }
      |}""".stripMargin)
}
