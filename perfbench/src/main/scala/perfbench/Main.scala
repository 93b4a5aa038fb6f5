package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one client thread, a closed
  * loop over one workload's operations. `perfbench/run.py` builds this,
  * generates the inputs, starts it, checks the outputs it dumps and
  * prints the result line.
  *
  * Arguments: `--workload curate|ingest --seed n --seconds s
  * --trace 0|1 --data dir --work dir --out file --cores n
  * --ingest-plan file`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cores: Int,
      ingestPlan: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m("cores").toInt, m("ingest-plan"))
  }

  /** One executed operation of the measured phase. */
  final case class Exec(pass: Int, name: String, ms: Double, ok: Boolean,
      error: String)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val result = try run(args) catch { case NonFatal(e) =>
      e.printStackTrace()
      Map("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.write(Paths.get(args.out), Json.render(result).getBytes(UTF_8))
    // streaming and Derby threads must not keep the process alive
    sys.exit(0)
  }

  def newSession(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${args.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The catalog's on-disk fixtures live under a fixed root; point it at
    * this run's work directory so the benchmark writes only inside its
    * checkout. The root is a static final field, so it is written
    * through Unsafe before any fixture path is taken. */
  def redirectFixtures(root: String): Unit = {
    val obj = graft.sources.IngestFixtures
    val f = obj.getClass.getDeclaredField("Root")
    val unsafeField = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    unsafeField.setAccessible(true)
    val unsafe = unsafeField.get(null).asInstanceOf[sun.misc.Unsafe]
    if (java.lang.reflect.Modifier.isStatic(f.getModifiers))
      unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), root)
    else unsafe.putObject(obj, unsafe.objectFieldOffset(f), root)
    require(obj.Root == root, s"fixture root is ${obj.Root}, wanted $root")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  /** The fixed in-memory calibration job of the engine's own bench:
    * identical work each time, no I/O, so it moves only with box load. */
  def noiseProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1L, 32)
      .selectExpr("sum(id % 1000003) AS s", "count(1) AS n").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full GC; the least of five readings, since a
    * concurrent Spark thread can allocate between a GC and its read. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Set-up is timed from process start to ready: session start with
    * GraftExtensions plus the warm pass, less the dumps for the oracle
    * checks. */
  def run(args: Args): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0Ns = System.nanoTime() - (System.currentTimeMillis() - jvmStart) * 1000000L
    new File(args.work).mkdirs()
    redirectFixtures(s"${args.work}/fixtures")
    val workload = new Workload(args)
    val spark = newSession(args)
    val tSession = System.nanoTime()
    val (warmFailures, dumpMs) = workload.warm(spark, dump = true)
    val moreFailures = (2 to Workloads.WarmPasses(args.workload))
      .flatMap(_ => workload.warm(spark, dump = false)._1)
    val tReady = System.nanoTime() - (dumpMs * 1e6).toLong
    val base = Map[String, Any](
      "setup" -> Map("setup_s" -> (tReady - t0Ns) / 1e9,
        "session_ms" -> (tSession - t0Ns) / 1e6, "warm_ms" -> (tReady - tSession) / 1e6),
      "warm_failures" -> (warmFailures ++ moreFailures), "verify_dir" -> s"${args.work}/verify")
    if (args.trace) base ++ workload.traced(spark)
    else base ++ workload.timed(spark)
  }
}

/** A workload: its operations, its warm pass, its timed closed loop and
  * its traced pass. */
final class Workload(args: Main.Args) {
  import Main._

  val name: String = args.workload
  private val rng = new Random(args.seed)
  private var passIndex = 0
  private var ingestState: Workloads.IngestPass = null
  private lazy val ingestPlan = IngestPlanJson.load(args.ingestPlan,
    s"jdbc:derby:${args.work}/derby;create=true")

  val ops: Seq[Op] = name match {
    case "curate" => Workloads.Curate.map(Workloads.catalogOp)
    case "ingest" => Workloads.ingestOps(ingestPlan, () => ingestState)
    case other => sys.error(s"unknown workload $other")
  }

  /** Reference result hash per operation, set by the warm pass. */
  private val reference = mutable.Map.empty[String, Long]

  /** The order of one pass: seeded for the read workloads; the ingest
    * pass is a fixed sequence of dependent statements. */
  private def passOrder(): Seq[Op] =
    if (name == "ingest") ops else rng.shuffle(ops)

  /** Per-pass session hygiene (outside every timed region). */
  private def beginPass(base: SparkSession): SparkSession = {
    passIndex += 1
    if (name == "ingest") {
      ingestState = new Workloads.IngestPass(passIndex, s"${args.work}/ingest")
      base
    } else if (name == "curate") {
      // a curation job pays the shared corpus builds once per job
      val s = base.newSession()
      s.catalog.clearCache()
      val bridge = org.apache.spark.sql.graft.Bridge
      bridge.unpersistIds(s.sparkContext, bridge.locallyCheckpointedIds(s.sparkContext))
      s
    } else base
  }

  private def endPass(spark: SparkSession): Unit = if (name == "ingest") {
    val p = ingestState
    spark.sql(s"DROP TABLE IF EXISTS ${p.table}")
    deleteTree(new File(p.dir))
  }

  /** Run one operation; returns (ms, output or failure). */
  private def runOp(ctx: Ctx, op: Op): (Double, Either[String, Output]) = {
    val t0 = System.nanoTime()
    val out = try Right(ctx.phase("op")(op.run(ctx))) catch { case NonFatal(e) =>
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[op] pass=$passIndex ${op.name} $ms%.1f ms ${out.left.getOrElse("ok")}")
    (ms, out)
  }

  /** Check an output against the warm pass's result for the same op. */
  private def check(op: Op, out: Either[String, Output]): Option[String] = out match {
    case Left(err) => Some(err)
    case Right(o) =>
      val h = RowHash.of(o.rows)
      if (o.nonEmpty && o.rows.isEmpty) Some("empty result")
      else reference.get(op.name) match {
        case None => reference(op.name) = h; None
        case Some(r) if r != h => Some(f"result hash $h%016x differs from first pass $r%016x")
        case _ => None
      }
  }

  /** Untimed warm pass: JIT, codegen, fixtures and index installs, and
    * the reference result of every operation. With `dump` set, every
    * result is also written out for the oracle checks in run.py; the
    * dump time is returned so set-up time can leave it out. */
  def warm(spark: SparkSession, dump: Boolean): (Seq[String], Double) = {
    val ctx = new Ctx(beginPass(spark), args.data, args.work, None)
    val dir = s"${args.work}/verify"
    var dumpMs = 0.0
    def timedDump(body: => Unit): Unit = if (dump) {
      val t0 = System.nanoTime()
      new File(dir).mkdirs()
      body
      dumpMs += (System.nanoTime() - t0) / 1e6
    }
    val oracle = mutable.Map.empty[String, String]
    val ingestDump = mutable.Map.empty[String, Any]
    val failed = ops.flatMap { op =>
      val (_, out) = runOp(ctx, op)
      val err = check(op, out)
      out.foreach(o => timedDump {
        if (name == "ingest") {
          if (o.rows.nonEmpty) ingestDump(op.name) = o.rows.map(RowHash.plain).toSeq
        } else graft.Catalog.byName(op.name).oracle.foreach { sql =>
          oracle(op.name) = sql.stripMargin.trim
          ctx.spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/${op.name}")
        }
      })
      err.map(e => s"${op.name}: $e")
    }
    timedDump {
      if (name == "ingest") {
        val p = ingestState
        ingestDump("final_table") = spark.table(p.table).collect().map(RowHash.plain).toSeq
        ingestDump("final_jdbc") = graft.sources.Sinks.readJdbc(spark,
          ingestPlan.derbyUrl, p.stats).collect().map(RowHash.plain).toSeq
        Files.write(Paths.get(s"$dir/ingest.json"), Json.render(ingestDump.toMap).getBytes(UTF_8))
      } else Files.write(Paths.get(s"$dir/oracle_sql.json"), Json.render(oracle.toMap).getBytes(UTF_8))
    }
    endPass(ctx.spark)
    (failed, dumpMs)
  }

  /** Measured passes: as many whole passes as fit in `seconds` at the
    * workload's nominal pass time. The count depends only on
    * `seconds`, so every run of a workload takes the same number of
    * samples (a tail percentile is only comparable at a fixed count),
    * and a slow box stretches the phase instead of shortening it. */
  def measuredPasses: Int =
    math.max(1, math.round(args.seconds / Workloads.NominalPassSeconds(name)).toInt)

  /** The measured phase: a fixed number of whole passes, closed loop. */
  def timed(spark: SparkSession): Map[String, Any] = {
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer(noiseProbe(spark))
    val passes = measuredPasses
    for (k <- 0 until passes) {
      if (k == passes / 2 && k > 0) probes += noiseProbe(spark)
      val ctx = new Ctx(beginPass(spark), args.data, args.work, None)
      val p0 = System.nanoTime()
      passOrder().foreach { op =>
        val (ms, out) = runOp(ctx, op)
        val err = check(op, out)
        execs += Exec(passIndex, op.name, ms, err.isEmpty, err.getOrElse(""))
      }
      passMs += (System.nanoTime() - p0) / 1e6
      endPass(ctx.spark)
    }
    if (passes == 1) probes += noiseProbe(spark)
    probes += noiseProbe(spark)
    val heap = heapRetainedMb()
    Map("execs" -> execs.map(e => Map("pass" -> e.pass, "op" -> e.name,
        "ms" -> e.ms, "ok" -> e.ok, "error" -> e.error)),
      "pass_ms" -> passMs.toSeq, "heap_retained_mb" -> heap,
      "noise_probe_s" -> probes.toSeq)
  }

  /** Jobs of one catalog entry, run alone: the instrument cross-check
    * against the job counts recorded for the iterative operators. */
  private def jobProbe(spark: SparkSession, tracer: Tracer, names: Seq[String]): Unit =
    names.zipWithIndex.foreach { case (n, i) =>
      val op = Workloads.catalogOp(n)
      val ctx = new Ctx(spark, args.data, args.work, Some(tracer))
      runOp(new Ctx(spark, args.data, args.work, None), op)
      tracer.beginOp(200000 + i)
      runOp(ctx, op)
      tracer.endOp()
    }

  /** The traced run: an untraced pass, the traced pass with spans and
    * scheduler counters, the probes, then a second untraced pass. The
    * two untraced passes bracket the traced one, so JIT warm-up that is
    * still going on does not read as a negative tracing cost. Every
    * traced run reports every layer: the write-side layers (sources,
    * streaming, pipelines) of a read workload are profiled on one
    * traced pass of the ingest operations, and every workload runs the
    * kernel probes. */
  def traced(spark: SparkSession): Map[String, Any] = {
    def plain(): Double = {
      val ctx = new Ctx(beginPass(spark), args.data, args.work, None)
      val p0 = System.nanoTime()
      passOrder().foreach(op => runOp(ctx, op))
      val ms = (System.nanoTime() - p0) / 1e6
      endPass(ctx.spark)
      ms
    }
    val before = plain()
    val tracer = new Tracer(spark.sparkContext)
    tracer.start(spark)
    val own = tracedPass(spark, tracer, 0)
    val io = if (name == "ingest") own else {
      val w = new Workload(args.copy(workload = "ingest"))
      w.warm(spark, dump = false)
      w.tracedPass(spark, tracer, 1000)
    }
    val kernels = Kernels.probe(spark, args.data, tracer)
    val probes = if (name == "curate") Workloads.JobProbes.keys.toSeq.sorted else Nil
    jobProbe(spark, tracer, probes)
    tracer.stop(spark)
    val trace = tracer.flushAndCollect()
    val after = plain()
    val names = own.names ++ io.names
    Files.write(Paths.get(s"${args.work}/trace.json"),
      Json.render(trace.asJson(names)).getBytes(UTF_8))
    Map("traced_pass_ms" -> own.passMs, "untraced_pass_ms" -> Seq(before, after),
      "layers" -> Layers.summarize(trace, own.perOp, args.cores),
      "io_layers" -> Layers.summarize(trace, io.perOp, args.cores),
      "job_probes" -> probes.zipWithIndex.map { case (n, i) =>
        n -> Map("jobs" -> trace.work(200000 + i).jobs, "want" -> Workloads.JobProbes(n)) }.toMap,
      "per_op" -> own.perOp, "io_per_op" -> io.perOp, "read_files" -> io.readFiles,
      "user_parquet_bytes" -> io.userBytes, "kernels" -> kernels,
      "streaming" -> trace.progress.map { case (k, v) => k.toString -> v })
  }

  final case class TracedPass(passMs: Double, perOp: Seq[Map[String, Any]],
      names: Map[Int, String], readFiles: Seq[Int], userBytes: Long)

  /** One traced pass over this workload's operations; op ids start at
    * `base`. */
  def tracedPass(spark: SparkSession, tracer: Tracer, base: Int): TracedPass = {
    val ctx = new Ctx(beginPass(spark), args.data, args.work, Some(tracer))
    val bridge = org.apache.spark.sql.graft.Bridge
    val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    val names = mutable.Map.empty[Int, String]
    val p0 = System.nanoTime()
    passOrder().zipWithIndex.foreach { case (op, j) =>
      val i = base + j
      names(i) = op.name
      ctx.planPhases.clear()
      val before = if (name == "ingest") Some(snapshotDirs()) else None
      tracer.beginOp(i)
      val (ms, out) = runOp(ctx, op)
      tracer.endOp()
      val sc = spark.sparkContext
      val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val ckpt = bridge.locallyCheckpointedIds(sc).size
      // bytes added: each file's growth, never offset by deletions;
      // what the operation deleted is kept apart
      val written = before.map { b =>
        val a = snapshotDirs()
        def growth(x: Map[String, Long], y: Map[String, Long]) =
          x.map { case (f, n) => math.max(0L, n - y.getOrElse(f, 0L)) }.sum
        (growth(a, b), (a.keySet -- b.keySet).size, growth(b, a))
      }
      perOp += Map("id" -> i, "op" -> op.name, "ms" -> ms, "ok" -> check(op, out).isEmpty,
        "commit" -> out.exists(_.commit), "phases" -> ctx.planPhases.toMap,
        "cached_bytes" -> cached, "checkpointed_rdds" -> ckpt,
        "bytes_written" -> written.map(_._1).getOrElse(0L),
        "files_written" -> written.map(_._2).getOrElse(0),
        "bytes_removed" -> written.map(_._3).getOrElse(0L),
        "rows" -> out.map(_.rows.length).getOrElse(0))
    }
    val passMs = (System.nanoTime() - p0) / 1e6
    val userBytes = if (name == "ingest") plainParquetBytes(ctx.spark) else 0L
    endPass(ctx.spark)
    TracedPass(passMs, perOp.toSeq, names.toMap, ctx.readFiles.toSeq, userBytes)
  }

  /** File sizes under the pass's table directory and the Derby store. */
  private def snapshotDirs(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile) out(f.getPath) = f.length()
    walk(new File(ingestState.tablePath))
    walk(new File(s"${args.work}/derby"))
    out.toMap
  }

  /** Bytes of this pass's user rows written once as plain parquet. */
  private def plainParquetBytes(spark: SparkSession): Long = {
    val dir = s"${args.work}/plain"
    deleteTree(new File(dir))
    spark.table(ingestState.table).coalesce(1).write.parquet(dir)
    val bytes = dirBytes(new File(dir))
    deleteTree(new File(dir))
    bytes
  }
}
