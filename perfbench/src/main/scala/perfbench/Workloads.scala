package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one operation produced, handed to the checks after its clock
  * has stopped. `rows` are the operation's result rows (empty for a
  * write); `commit` marks a statement that commits to the txlog;
  * `nonEmpty` marks a result that must have rows. */
final case class Output(rows: Array[Row], commit: Boolean = false,
    nonEmpty: Boolean = false, schema: StructType = new StructType())

/** One operation of a workload. `run` is the whole timed body. */
final case class Op(name: String, run: Ctx => Output)

/** Everything an operation may touch. `phase` wraps a layer boundary:
  * a traced run records it as a span, an untraced run just runs it. */
final class Ctx(var spark: SparkSession, val dataDir: String,
    val workDir: String, val tracer: Option[Tracer]) {
  def phase[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  /** Catalyst phase times (ms) of the last planned query, per op. */
  val planPhases = scala.collection.mutable.Map.empty[String, Double]
  def notePhases(df: DataFrame): Unit = if (tracer.isDefined) {
    df.queryExecution.tracker.phases.foreach { case (k, v) =>
      planPhases(k) = planPhases.getOrElse(k, 0.0) + v.durationMs
    }
  }
  /** `inputFiles` of every txlog read-back. */
  val readFiles = scala.collection.mutable.ArrayBuffer.empty[Int]
  /** Streaming queries started by a traced op carry this name. */
  def streamName(fallback: String): String =
    tracer.map(_.streamName).getOrElse(fallback)
}

object Workloads {

  /** Seconds per measured pass, from warm passes on a 4-core box; sets
    * how many passes a run measures (see `Workload.measuredPasses`). */
  val NominalPassSeconds: Map[String, Double] =
    Map("curate" -> 12.0, "ingest" -> 9.0)

  /** Untimed warm passes before measuring. After one, curate's first
    * measured pass still runs 10-25% slower than its second (JIT still
    * compiling), so curate warms twice. */
  val WarmPasses: Map[String, Int] = Map("curate" -> 2, "ingest" -> 1)

  /** The training-data pipeline: near-dup clusters over the shared
    * corpus builds, an IVF vector search, text statistics and a
    * selection filter. */
  val Curate: Seq[String] = Seq(
    "d06_dedup_clusters", "s03_ivf_ann", "t06_collocations",
    "p04_pii_redact")

  /** Iterative operators whose job counts were recorded by the engine's
    * own profiler (q95 23 jobs, q112 30 jobs); the traced curate run
    * re-counts them from outside. */
  val JobProbes: Map[String, Long] = Map("q95_pagerank" -> 23L, "q112_shortest_paths" -> 30L)

  /** A catalog entry as an operation: build, force the physical plan,
    * then run it and bring its rows back for checking. */
  def catalogOp(name: String): Op = {
    val q = graft.Catalog.byName(name)
    Op(name, ctx => {
      val df = ctx.phase("queries.build")(q.build(ctx.spark, ctx.dataDir))
      ctx.phase("plans.plan")(df.queryExecution.executedPlan)
      ctx.notePhases(df)
      val rows = ctx.phase("exec.run")(df.collect())
      Output(rows, nonEmpty = q.oracle.isEmpty, schema = df.schema)
    })
  }

  // ---------------------------------------------------------------
  // ingest: scraped JSON → EtlPipeline → Derby, plus a txlog table
  // written by SQL INSERT and a streaming append, then DML,
  // maintenance and read-backs.
  // ---------------------------------------------------------------

  val RecordSchema: StructType = StructType(Seq(
    StructField("card_key", StringType), StructField("ts", LongType),
    StructField("k", LongType), StructField("grp", StringType),
    StructField("score", DoubleType)))

  /** The normalization the txlog rows get: the same key clean-up as
    * `EtlPipeline.normalize`, without its latest-per-key dedup. */
  def cleaned(df: DataFrame): DataFrame =
    df.filter(col("card_key").isNotNull)
      .withColumn("card_key", lower(trim(col("card_key"))))

  /** Per-pass state shared by the ingest operations of one pass. */
  final class IngestPass(val index: Int, root: String) {
    val dir: String = s"$root/pass_$index"
    val table: String = s"cards_$index"
    val tablePath: String = s"$dir/table"
    val checkpoint: String = s"$dir/ckpt"
    val stats: String = s"card_stats_$index"
    var preDmlVersion: Long = -1L
    var firstDmlVersion: Long = -1L
  }

  final case class IngestPlan(inputDir: String, batches: Int,
      streamBatches: Seq[Int], updateR: Int, mod: Int,
      updateDelta: Double, groups: Int, derbyUrl: String)

  def latestVersion(path: String): Long =
    graft.sources.TxLog.latestVersion(path).map(_.toLong).getOrElse(-1L)

  def sql(ctx: Ctx, text: String): DataFrame = {
    val df = ctx.phase("sources.statement")(ctx.spark.sql(text))
    ctx.notePhases(df)
    df
  }

  def ingestOps(plan: IngestPlan, pass: () => IngestPass): Seq[Op] = {
    val insertBatches = (1 until plan.batches).filterNot(plan.streamBatches.contains)
    def batchPath(b: Int) = s"${plan.inputDir}/batch_$b.json"
    val etl = Op("etl_jdbc", ctx => {
      val p = pass()
      ctx.phase("pipelines.etl")(graft.pipelines.EtlPipeline.run(ctx.spark,
        s"${plan.inputDir}/batch_*.json", RecordSchema, "card_key", "ts",
        "grp", "score", plan.derbyUrl, p.stats))
      Output(Array.empty)
    })
    // a txlog catalog table binds to a store that has a first commit:
    // batch 0 lands through the DataFrame writer, then CREATE TABLE
    val create = Op("create_b0", ctx => {
      val p = pass()
      new File(p.dir).mkdirs()
      ctx.phase("sources.statement")(
        cleaned(ctx.spark.read.schema(RecordSchema).json(batchPath(0)))
          .write.format("graft-txlog").mode("append").save(p.tablePath))
      sql(ctx, s"DROP TABLE IF EXISTS ${p.table}")
      sql(ctx, s"CREATE TABLE ${p.table} USING `graft-txlog` " +
        s"OPTIONS (path '${p.tablePath}', keyCols 'ts')")
      Output(Array.empty, commit = true)
    })
    val inserts = insertBatches.map { b =>
      Op(s"insert_b$b", ctx => {
        val p = pass()
        val src = cleaned(ctx.spark.read.schema(RecordSchema).json(batchPath(b)))
        src.createOrReplaceTempView(s"batch_${p.index}_$b")
        sql(ctx, s"INSERT INTO ${p.table} SELECT card_key, ts, k, grp, score " +
          s"FROM batch_${p.index}_$b")
        Output(Array.empty, commit = true)
      })
    }
    val stream = Op("stream_append", ctx => {
      val p = pass()
      val q = ctx.phase("streaming.run") {
        val src = ctx.spark.readStream.schema(RecordSchema)
          .option("maxFilesPerTrigger", 2).json(s"${plan.inputDir}/stream")
        val query = cleaned(src).writeStream.format("graft-txlog")
          .queryName(ctx.streamName(s"ingest_${p.index}"))
          .option("checkpointLocation", p.checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(p.tablePath)
        query.awaitTermination()
        query
      }
      q.exception.foreach(e => throw e)
      sql(ctx, s"REFRESH TABLE ${p.table}")
      p.preDmlVersion = latestVersion(p.tablePath)
      p.firstDmlVersion = p.preDmlVersion + 1
      Output(Array.empty, commit = true)
    })
    val update = Op("update", ctx => {
      val p = pass()
      sql(ctx, s"UPDATE ${p.table} SET score = score + ${plan.updateDelta} " +
        s"WHERE k % ${plan.mod} = ${plan.updateR}")
      Output(Array.empty, commit = true)
    })
    val optimize = Op("optimize", ctx => {
      val p = pass()
      sql(ctx, s"OPTIMIZE ${p.table}")
      Output(Array.empty, commit = true)
    })
    def readBack(name: String, q: IngestPass => String) = Op(name, ctx => {
      val p = pass()
      val df = ctx.phase("queries.build")(ctx.spark.sql(q(p)))
      ctx.phase("plans.plan")(df.queryExecution.executedPlan)
      ctx.notePhases(df)
      ctx.readFiles += df.inputFiles.length
      Output(ctx.phase("exec.run")(df.collect()), nonEmpty = true)
    })
    val readAgg = readBack("read_agg", p =>
      s"SELECT grp, count(*) AS n, sum(score) AS s FROM ${p.table} GROUP BY grp")
    val readVersion = readBack("read_version", p =>
      s"SELECT grp, count(*) AS n, sum(score) AS s FROM ${p.table} " +
        s"VERSION AS OF ${p.preDmlVersion} GROUP BY grp")
    val readChanges = readBack("read_changes", p =>
      s"SELECT _change_type, _commit_version, count(*) AS n, " +
        s"sum(coalesce(score, 0)) AS s FROM table_changes('${p.table}', " +
        s"${p.firstDmlVersion}) GROUP BY _change_type, _commit_version")
    val vacuum = Op("vacuum", ctx => {
      val p = pass()
      val rows = sql(ctx, s"VACUUM ${p.table} RETAIN 1 VERSIONS RETAIN 0 HOURS FORCE")
        .collect()
      Output(Array(Row(rows.length.toLong)))
    })
    Seq(etl, create) ++ inserts ++ Seq(stream, update,
      optimize, readAgg, readVersion, readChanges, vacuum)
  }
}
