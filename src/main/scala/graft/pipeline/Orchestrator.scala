package graft.pipeline

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.bench.StageTimers
import graft.ops.DirSwap
import graft.quality.DataQuality
import graft.schema.Schemas
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.{AccountTransform, CustomerTransform, TransactionTransform}

/** Pipeline orchestrator (X1) mirroring the reference's
  * `BankingETLPipeline.run_pipeline`
  * (`/root/reference/src/orchestration/main.py:23-302`): per pipeline,
  * extract -> transform -> quality gate -> load, with the
  * `fail_on_quality_check` gate (`main.py:122-126,185-189,246-250`).
  *
  * The gate guards the commit, not the write. A pipeline runs at most
  * three SQL executions:
  *  - the checks: one fused aggregate ([[DataQuality.allChecks]]), which is
  *    also the first action over the persisted transform and so fills its
  *    cache;
  *  - the load, on a second thread beside the checks whenever its
  *    output can still be thrown away — a warehouse target writes
  *    `<table>__staging` and the gate decides whether it is swapped in or
  *    deleted — or whenever the gate is off, since an ungated pipeline
  *    loads whatever the verdict. A gated direct write (an s3/local target)
  *    cannot be taken back, so it runs only after the gate passes;
  *  - the quality-results append, started once the verdict is known and
  *    run beside the commit. `runPipeline` returns or throws only after it
  *    finishes, so a failed gate still records its row.
  *
  * Differences from the reference, on purpose:
  *  - The transform output is persisted before the quality phase — the
  *    reference recomputes the whole chain for every quality `count()`
  *    (SURVEY.md §2.15.7); at scale that is several full recomputes. The
  *    concurrent load reads the same cache: a partition being computed by
  *    one job is waited for, not recomputed, by the other.
  *  - Quality results are also WRITTEN to a table, making the monitoring
  *    queries (`monitor.py:10-26`) actually satisfiable (SURVEY.md §2.15.8).
  *  - Warehouse targets (redshift) map to local parquet under `outRoot`
  *    (keyed upsert via [[Sinks.upsert]] when key columns are configured) —
  *    the JDBC path exists in [[Sinks.jdbc]] but isn't exercised locally.
  */
final case class PipelineQualityException(name: String)
  extends RuntimeException(s"Data quality checks failed for $name data")

final case class PipelineResult(name: String, recordCount: Long,
    qualityPassed: Boolean, loadedTo: String)

class Orchestrator(spark: SparkSession, cfg: AppConfig,
    dataRoot: String, outRoot: String) {
  import Orchestrator._

  def runAll(): Seq[PipelineResult] = cfg.pipelinesToRun.map(runPipeline)

  def runPipeline(name: String): PipelineResult = {
    val spec = cfg.pipelines.getOrElse(name,
      throw new IllegalArgumentException(s"No pipeline config for $name"))

    // Stage-timed so bench sweeps can attribute pipeline cost to its
    // phases instead of one opaque number. The transform timer covers
    // planning only (its execution rides the checks); the quality and load
    // timers overlap each other.
    val transformed = StageTimers.time("pipeline.transform") {
      transformFor(name)(extract(name, spec))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // built, and so analysed, before the load starts: a plan-time error
      // stops the run before anything is written
      val check = DataQuality.allChecks(transformed, spec.dataQuality)
      val staging = new Worker(s"$name-load")(
        StageTimers.time("pipeline.load")(stage(name, spec, transformed)))
      val verdict = Try(StageTimers.time("pipeline.quality")(check()))
      val recording = verdict.toOption.map(qr =>
        new Worker(s"$name-quality-results")(
          StageTimers.time("pipeline.quality")(writeQualityResults(name, qr))))
      val staged = staging.join()
      val passed = verdict.toOption.map(_.overallPassed || !spec.failOnQualityCheck)
      val committed = staged.toOption.fold[Try[Unit]](Success(())) { load =>
        Try(if (passed.contains(true))
          StageTimers.time("pipeline.load")(load.commit())
        else load.discard())
      }
      val gate =
        if (passed.contains(false)) Failure(PipelineQualityException(name))
        else Success(())
      val recorded = recording.fold[Try[Unit]](Success(()))(_.join())
      // the checks' error first, then the gate's, the load's, the append's
      rethrowFirst(verdict, gate, staged, committed, recorded)
      PipelineResult(name, verdict.get.recordCount, verdict.get.overallPassed,
        staged.get.target)
    } finally transformed.unpersist()
  }

  private def extract(name: String, spec: PipelineSpec): DataFrame =
    spec.sourceType match {
      case "s3" | "local" =>
        val path = s"$dataRoot/${spec.sourcePath.getOrElse(name)}"
        Sources.csv(spark, path, Some(rawSchemaFor(name)))
      case "parquet" =>
        Sources.parquet(spark, s"$dataRoot/${spec.sourcePath.getOrElse(name)}")
      case "rds" =>
        // JDBC source: locally backed by a parquet/csv drop of the table
        Sources.csv(spark, s"$dataRoot/${spec.sourceTable.getOrElse(name)}",
          Some(rawSchemaFor(name)))
      case other =>
        throw new IllegalArgumentException(s"Unsupported source type: $other")
    }

  private def rawSchemaFor(name: String) = name match {
    case "customer" => Schemas.customer
    case "account" => Schemas.account
    case "transaction" => Schemas.transactionRaw
    case other => throw new IllegalArgumentException(s"Unknown entity: $other")
  }

  /** main.py:113-114 (customer), :237-238 (account), :174-177 (transaction). */
  private def transformFor(name: String): DataFrame => DataFrame = name match {
    case "customer" => CustomerTransform.all
    case "account" => AccountTransform.all
    case "transaction" => TransactionTransform.all
    case other => throw new IllegalArgumentException(s"Unknown pipeline: $other")
  }

  /** The write half of the load, run before the verdict. What it writes
    * is either discardable (a warehouse target stages; `commit` swaps the
    * staging in) or wanted whatever the verdict (an ungated direct write
    * lands at once). A gated direct write is deferred to `commit`. */
  private def stage(name: String, spec: PipelineSpec, df: DataFrame): Load =
    spec.targetType match {
      case "s3" | "local" =>
        val path = s"$outRoot/${spec.targetPath.getOrElse(name)}"
        val write = () =>
          Sinks.writePartitioned(df, path, spec.writeMode, spec.partitionCols)
        if (spec.failOnQualityCheck) Load(path, write, () => ())
        else { write(); Load(path, () => (), () => ()) }
      case "redshift" =>
        // local stand-in for the staged warehouse upsert (K2): keyed merge
        // into a parquet table named after target_table. The merged frame
        // READS the path it replaces, so it is written to a staging
        // directory first and committed through DirSwap (`__staging`,
        // `__old`) — the same staging-then-swap discipline the reference
        // uses warehouse-side (readshift_loader.py:68-92). Recovery runs
        // before the existence check: after a crash between the swap's
        // two renames the table lives at `__old`, and an upsert into the
        // missing target would keep only the new drop.
        val path = s"$outRoot/${spec.targetTable.getOrElse(name)}"
        val swap = DirSwap(spark, path, "__staging")
        swap.recover()
        val merged =
          if (spec.keyColumns.nonEmpty && swap.fs.exists(swap.target)) {
            val target = spark.read.parquet(path)
            Sinks.upsert(target, df, spec.keyColumns)
          } else df
        Sinks.writePartitioned(merged, swap.stage.toString, "overwrite",
          spec.partitionCols)
        Load(path, () => swap.commit(),
          () => swap.fs.delete(swap.stage, true))
      case other =>
        throw new IllegalArgumentException(s"Unsupported target type: $other")
    }

  private def writeQualityResults(name: String,
      qr: DataQuality.QualityResults): Unit = {
    import spark.implicits._
    val df = Seq((qr.tableName, qr.recordCount,
      qr.nullCheck.forall(_.passed), qr.duplicateCheck.forall(_.passed),
      qr.rangeCheck.forall(_.passed), qr.overallPassed))
      .toDF("table_name", "record_count", "null_passed", "duplicate_passed",
        "range_passed", "overall_passed")
    Sinks.writeQualityResults(df, s"$outRoot/quality_results")
  }
}

object Orchestrator {
  /** A load split at its commit point: `stage` has written
    * what it can, `commit` makes it the target's contents, `discard`
    * throws the staged part away. */
  private final case class Load(target: String, commit: () => Unit,
      discard: () => Unit)

  /** `body` on a fresh thread. Not a pool: Spark's local properties
    * (execution id, job group, scheduler pool) are inherited when a thread
    * is created, so a worker must be started by its caller and outside any
    * SQL execution. Every throwable is kept for [[join]], so a failure on
    * the worker surfaces on the caller. */
  private final class Worker[T](name: String)(body: => T) {
    private var result: Try[T] = _
    private val thread = new Thread(() =>
      result = try Success(body) catch { case e: Throwable => Failure(e) },
      s"graft-$name")
    thread.setDaemon(true)
    thread.start()

    def join(): Try[T] = { thread.join(); result }
  }

  /** Throws the first failure, with every later one attached as suppressed. */
  private def rethrowFirst(results: Try[Any]*): Unit =
    results.flatMap(_.failed.toOption) match {
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case _ => ()
    }
}
