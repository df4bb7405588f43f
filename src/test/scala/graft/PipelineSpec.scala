package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.pipeline.{Config, Orchestrator, PipelineQualityException}
import graft.seed.DataSeed

/** End-to-end pipeline smoke: seed -> extract -> transform -> quality gate ->
  * partitioned load, mirroring the reference orchestration flow. */
class PipelineSpec extends SparkSpec {

  private val configJson =
    """{
      |  "app_name": "Banking ETL Pipeline",
      |  "environment": "test",
      |  "pipelines_to_run": ["customer", "transaction"],
      |  "pipelines": {
      |    "customer": {
      |      "source_type": "s3", "source_path": "customers",
      |      "target_type": "redshift", "target_table": "dim_customer",
      |      "key_columns": ["customer_id"], "fail_on_quality_check": true,
      |      "data_quality": {
      |        "table_name": "dim_customer",
      |        "required_columns": ["customer_id", "first_name", "last_name", "email"],
      |        "key_columns": ["customer_id"],
      |        "range_checks": {"credit_score": [300, 850]}
      |      }
      |    },
      |    "transaction": {
      |      "source_type": "s3", "source_path": "transactions",
      |      "target_type": "s3", "target_path": "processed/transactions",
      |      "write_mode": "append",
      |      "partition_cols": ["transaction_year", "transaction_month"],
      |      "fail_on_quality_check": false,
      |      "data_quality": {
      |        "table_name": "fact_transaction",
      |        "required_columns": ["transaction_id", "account_id", "transaction_date", "amount"],
      |        "key_columns": ["transaction_id"],
      |        "range_checks": {"amount": [0, 1000000]}
      |      }
      |    }
      |  }
      |}""".stripMargin

  test("config parses the reference JSON layout") {
    val cfg = Config.fromJson(configJson)
    assert(cfg.pipelinesToRun == Seq("customer", "transaction"))
    val tx = cfg.pipelines("transaction")
    assert(!tx.failOnQualityCheck)
    assert(tx.partitionCols == Seq("transaction_year", "transaction_month"))
    assert(tx.dataQuality.rangeChecks("amount") == ((0.0, 1000000.0)))
    assert(cfg.pipelines("customer").failOnQualityCheck)
  }

  test("seeded pipelines run end-to-end: gate passes, partitioned output lands") {
    val root = Files.createTempDirectory("graft_pipe").toString
    new DataSeed(spark).writeAll(s"$root/raw",
      nCustomers = 50, nAccounts = 80, nTransactions = 500)
    val cfg = Config.fromJson(configJson)
    val orch = new Orchestrator(spark, cfg, s"$root/raw", s"$root/out")
    val results = orch.runAll()
    assert(results.forall(_.qualityPassed))
    assert(results.map(_.name) == Seq("customer", "transaction"))

    // partitioned transaction output with year=/month= layout
    val txOut = spark.read.parquet(s"$root/out/processed/transactions")
    assert(txOut.count() == 500)
    val dirs = new java.io.File(s"$root/out/processed/transactions")
      .listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("transaction_year=")))

    // customer landed under the warehouse stand-in table name
    assert(spark.read.parquet(s"$root/out/dim_customer").count() == 50)

    // quality results table written (monitoring extension, SURVEY §2.15.8)
    val qr = spark.read.parquet(s"$root/out/quality_results")
    assert(qr.count() == 2 && qr.columns.contains("overall_passed"))
  }

  /** The transaction config with its gate switched on. */
  private val gatedConfigJson =
    configJson.replace("\"fail_on_quality_check\": false", "\"fail_on_quality_check\": true")

  /** SQL executions started while `body` runs. */
  private def executions(body: => Any): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    n.get
  }

  test("a pipeline runs at most three SQL executions: checks, results append, load") {
    val root = Files.createTempDirectory("graft_budget").toString
    new DataSeed(spark).writeAll(s"$root/raw",
      nCustomers = 50, nAccounts = 80, nTransactions = 500)
    val orch = new Orchestrator(spark, Config.fromJson(configJson),
      s"$root/raw", s"$root/out")
    orch.runPipeline("customer") // creates dim_customer; the replay upserts
    val gated = new Orchestrator(spark, Config.fromJson(gatedConfigJson),
      s"$root/raw", s"$root/gated")
    val counts = Seq(
      "warehouse upsert" -> executions(orch.runPipeline("customer")),
      "ungated direct write" -> executions(orch.runPipeline("transaction")),
      "gated direct write" -> executions(gated.runPipeline("transaction")))
    assert(counts.forall(_._2 <= 3), counts)
  }

  /** Two rows sharing transaction_id T1: the duplicate check fails. */
  private def writeDuplicateTransactions(root: String): Unit = {
    import spark.implicits._
    val ts = "2024-01-03 10:00:00"
    val bad = Seq(
      ("T1", "a1", ts, "deposit", "100.0", "USD", "d", "m", "grocery",
        "completed", "online", "USA", "false"),
      ("T1", "a1", ts, "payment", "50.0", "EUR", "d", "m", "grocery",
        "completed", "online", "USA", "false"))
      .toDF("transaction_id", "account_id", "transaction_date",
        "transaction_type", "amount", "currency", "description",
        "merchant_name", "merchant_category", "transaction_status", "channel",
        "location", "is_international")
    graft.sinks.Sinks.csv(bad, s"$root/raw/transactions")
  }

  test("fail_on_quality_check=false proceeds with load despite failed checks (reference transaction behavior)") {
    val root = Files.createTempDirectory("graft_soft").toString
    // duplicate transaction_id -> duplicate check fails; gate is soft
    writeDuplicateTransactions(root)
    val cfg = Config.fromJson(configJson)
    val orch = new Orchestrator(spark, cfg, s"$root/raw", s"$root/out")
    val r = orch.runPipeline("transaction") // must NOT throw
    assert(!r.qualityPassed && r.recordCount == 2)
    assert(spark.read.parquet(s"$root/out/processed/transactions").count() == 2)
  }

  test("fail_on_quality_check gate raises on bad data") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gate").toString
    // duplicate customer_id + out-of-range credit score
    val bad = Seq(
      ("CUST1", "A", "B", "1990-01-01", "a@x.com", "555", "1 Main", "NY", "NY",
        "10001", "USA", "2020-01-01", "900", "Low"),
      ("CUST1", "A", "B", "1990-01-01", "a@x.com", "555", "1 Main", "NY", "NY",
        "10001", "USA", "2020-01-01", "900", "Low"))
      .toDF("customer_id", "first_name", "last_name", "date_of_birth", "email",
        "phone_number", "address", "city", "state", "zip_code", "country",
        "customer_since", "credit_score", "risk_segment")
    graft.sinks.Sinks.csv(bad, s"$root/raw/customers")
    val cfg = Config.fromJson(configJson)
    val orch = new Orchestrator(spark, cfg, s"$root/raw", s"$root/out")
    // dedup in clean removes the duplicate, but 900 > 850 fails the range gate
    assertThrows[PipelineQualityException](orch.runPipeline("customer"))
  }

  test("a failed gate on a gated direct write writes nothing but still records its quality row") {
    val root = Files.createTempDirectory("graft_gated_s3").toString
    writeDuplicateTransactions(root)
    val orch = new Orchestrator(spark, Config.fromJson(gatedConfigJson),
      s"$root/raw", s"$root/out")
    assertThrows[PipelineQualityException](orch.runPipeline("transaction"))
    assert(!new java.io.File(s"$root/out/processed/transactions").exists())
    val qr = spark.read.parquet(s"$root/out/quality_results")
      .select("table_name", "record_count", "overall_passed").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(qr == Seq(("fact_transaction", 2L, false)))
  }

  test("a failed gate on a keyed warehouse target keeps the target and leaves no staging behind") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gated_wh").toString
    new DataSeed(spark).writeAll(s"$root/raw",
      nCustomers = 50, nAccounts = 80, nTransactions = 500)
    val orch = new Orchestrator(spark, Config.fromJson(configJson),
      s"$root/raw", s"$root/out")
    assert(orch.runPipeline("customer").qualityPassed)
    val before = spark.read.parquet(s"$root/out/dim_customer").collect().toSeq

    // the next drop carries an out-of-range credit score: the staged
    // upsert is written beside the checks, then the gate discards it
    val bad = spark.read.option("header", "true").csv(s"$root/raw/customers")
      .withColumn("credit_score",
        org.apache.spark.sql.functions.lit("900"))
      .localCheckpoint()
    graft.sinks.Sinks.csv(bad, s"$root/raw/customers")
    assertThrows[PipelineQualityException](orch.runPipeline("customer"))

    val after = spark.read.parquet(s"$root/out/dim_customer").collect().toSeq
    assert(after.map(_.toString).sorted == before.map(_.toString).sorted)
    val left = new java.io.File(s"$root/out").listFiles().map(_.getName).toSet
    assert(left == Set("dim_customer", "quality_results"), left)
    val qr = spark.read.parquet(s"$root/out/quality_results")
      .select("overall_passed").as[Boolean].collect().toSeq
    assert(qr.sorted == Seq(false, true))
  }

  test("a crash between the warehouse swap's two renames loses no rows: the next drop heals, then upserts") {
    val root = Files.createTempDirectory("graft_swap_crash").toString
    new DataSeed(spark).writeAll(s"$root/raw",
      nCustomers = 50, nAccounts = 80, nTransactions = 500)
    val orch = new Orchestrator(spark, Config.fromJson(configJson),
      s"$root/raw", s"$root/out")
    assert(orch.runPipeline("customer").qualityPassed)
    // the state a crash between the two renames leaves: the table is
    // retired to __old and nothing is promoted
    val table = new java.io.File(s"$root/out/dim_customer")
    val retired = new java.io.File(s"$root/out/dim_customer__old")
    assert(table.renameTo(retired))

    // the next drop carries 10 of the 50 customers
    val drop = spark.read.option("header", "true").csv(s"$root/raw/customers")
      .limit(10).localCheckpoint()
    graft.sinks.Sinks.csv(drop, s"$root/raw/customers")
    assert(orch.runPipeline("customer").qualityPassed)

    val keys = spark.read.parquet(table.toString)
      .select("customer_id").distinct().count()
    assert(keys == 50)
    assert(!retired.exists())
  }
}
