package etlbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of the import/export pipeline.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
  * }}}
  *
  * One process, one closed-loop client: set up (session, seeded fixtures,
  * pristine targets, one untimed warm-up run), then run the workload back
  * to back for `--seconds`, restoring the target, clearing caches and
  * collecting garbage between runs outside the timed window. Every run's
  * output is checked against the generator's own counts. With `--trace 1`
  * a traced run follows and the last line carries per-layer metrics;
  * otherwise it carries the end-to-end metrics. Spans go to
  * `<root>/traces/`.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, root: File = new File(".bench_build"))

  /** scale factor of every workload's inputs (see README, "Host and session") */
  val scale: Scale = Scale(0.02)
  /** measured runs per process, at the least */
  val MinRuns = 3

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, o.copy(root = new File(v)))
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def session(root: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cpus]").appName("etlbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(root, "hadoop-tmp").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val code = try run(parse(args.toList)) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(o.root, s"work/${o.workload}-${o.seed}-${ProcessHandle.current.pid}")
    val spark = session(work)
    try {
      val data = new File(work, "data")
      val ctx = new Ctx(spark, data, o.seed, scale, new StageListener(spark.sparkContext))
      val w = Workload(o.workload, ctx)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      val stage = System.nanoTime()
      Fixtures.dimensions(spark, o.seed, ctx.scale, ctx.dims, w.dimTables)
      w.stage()
      w.expected
      val stageS = (System.nanoTime() - stage) / 1e9
      val failures = ArrayBuffer.empty[String]
      var attempted = 0
      var failed = 0
      // between runs, outside both the timed window and set-up
      def hygiene(): Unit = {
        w.reset(); spark.catalog.clearCache(); System.gc(); ctx.listener.reset()
      }
      def attempt(): Option[(Double, Counters)] = {
        attempted += 1
        val t = System.nanoTime()
        val r = try Right(w.op()) catch { case e: Exception => Left(e.toString) }
        val wall = (System.nanoTime() - t) / 1e9
        val c = ctx.listener.snapshot()
        r.fold(Seq(_), w.check(_, c)) match {
          case Nil => Some((wall, c))
          case errs => failures ++= errs; failed += 1; None
        }
      }
      hygiene()
      val warm = System.nanoTime()
      attempt()
      val setupS = sessionS + stageS + (System.nanoTime() - warm) / 1e9

      val runs = ArrayBuffer.empty[(Double, Counters)]
      val loop = System.nanoTime()
      // Runs get faster through a process as the JIT warms, so the median
      // moves with the run count; at least MinRuns makes the count the same
      // in nearly every process.
      while ((System.nanoTime() - loop) / 1e9 < o.seconds || attempted < MinRuns + 1) {
        hygiene()
        attempt().foreach(runs += _)
      }
      val wallMed = Stats.median(runs.map(_._1).toSeq)
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", w.inputRows / wallMed, "rows/s"),
        ("cpu_s", Stats.median(runs.map(_._2.cpuS).toSeq), "s"),
        ("peak_exec_mem_mb", Stats.median(runs.map(_._2.peakExecMem / 1048576.0).toSeq), "MB"),
        ("write_amp", Stats.median(runs.map(_._2.outputBytes.toDouble).toSeq) / w.inputBytes, "ratio"))
      println(s"""{"workload":"${o.workload}","seed":${o.seed},"sf":${scale.sf},""" +
        s""""runs":${runs.size},"walls_s":[${runs.map(_._1).mkString(",")}],""" +
        s""""input_rows":${w.inputRows},"input_bytes":${w.inputBytes},""" +
        s""""failed_ops":${failed.toDouble / attempted},""" +
        s""""session_s":$sessionS,"stage_s":$stageS,""" +
        s""""metrics":${json(e2e)}}""")

      val metrics =
        if (!o.trace) e2e
        else {
          hygiene()
          val t = new Trace(ctx, new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}"))
          w.traced(t)
          failures ++= w.traceCheck(t)
          failures ++= w.facadeCheck()
          t.tracer.writeJsonl(new File(o.root, s"traces/${t.tracer.runId}.jsonl"))
          layerMetrics(t, w.layers, wallMed)
        }
      failures.foreach(f => System.err.println(s"[etlbench] check failed: $f"))
      println(s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${json(metrics)}}""")
      0
    } finally {
      spark.stop()
      Files.delete(work)
      System.err.println(s"[etlbench] process time ${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s")
    }
  }

  /** Per-layer metrics of a traced run; layers the run did not use read 0. */
  def layerMetrics(t: Trace, layers: Seq[String], untracedWallS: Double): Seq[(String, Double, String)] = {
    val out = LinkedHashMap.empty[String, (Double, String)]
    layers.foreach { l =>
      val (selfS, c, rows) = t.self(l)
      out(s"$l.self_s") = (selfS, "s")
      out(s"$l.cpu_s") = (c.cpuS, "s")
      out(s"$l.stages") = (c.stages.toDouble, "count")
      out(s"$l.tasks") = (c.tasks.toDouble, "count")
      out(s"$l.shuffle_mb") = (c.shuffleMb, "MB")
      out(s"$l.spill_mb") = (c.spillMb, "MB")
      out(s"$l.rows_out") = (rows.toDouble, "rows")
    }
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val relations = t.obs("RelationResolver", "lookups")
    val mediaRecords = t.obs("Media", "rows")
    val libraryFiles = t.obs("ZipSource", "rows")
    val keys = t.obs("Upsert.report", "rows")
    out("Validator.valid_ratio") = (ratio(t.obs("Validator", "rows"), t.obs("scan", "rows")), "ratio")
    out("RelationResolver.lookups") = (relations.toDouble, "count")
    out("RelationResolver.hit_ratio") = (ratio(t.obs("RelationResolver", "hits"), relations), "ratio")
    out("Media.records") = (mediaRecords.toDouble, "count")
    out("Media.library_files") = (libraryFiles.toDouble, "count")
    out("Media.pairs") = (mediaRecords.toDouble * libraryFiles, "count")
    out("Media.match_ratio") = (ratio(t.obs("Media", "matched"), mediaRecords), "ratio")
    out("Upsert.merge.keys") = (keys.toDouble, "count")
    out("Upsert.merge.update_ratio") = (ratio(t.obs("Upsert.report", "updated"), keys), "ratio")
    out("Upsert.report.rerun_ratio") =
      (ratio(t.total("Upsert.report").cpuS, t.total("Upsert.write").cpuS), "ratio")
    out("trace_overhead_s") = (t.tracer.seconds(t.Root) - t.warmS - untracedWallS, "s")
    out.toSeq.map { case (n, (v, u)) => (n, v, u) }
  }
}
