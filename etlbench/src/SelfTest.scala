package etlbench

import java.io.File
import java.security.MessageDigest
import java.nio.file.{Files => NFiles}

/** The benchmark's own checks, at sf 0.001:
  *   - the generator is deterministic per seed (same seed, same bytes and
  *     counts; another seed, other bytes);
  *   - for every workload one façade run passes its output check, and the
  *     traced prefix chain ends in the façade's output (a workload listed
  *     in `knownDefects` must instead fail with its defect's error).
  *
  * {{{ SelfTest --root <dir> }}}  exits 1 on any failure.
  */
object SelfTest {
  /** Workloads that fail today on an engine defect, with the error that
    * marks it. `Exporter.flattenRepeatableComponent` reads element i of
    * every row's component array with `element_at`, which under ANSI mode
    * (the Spark 4 default) throws for rows holding fewer than the widest
    * row's elements — so any export of ragged repeatable components fails.
    * The workload is kept runnable and out of BENCHMARK.json until fixed.
    */
  val knownDefects: Map[String, String] = Map("export_flatten" -> "INVALID_ARRAY_INDEX_IN_ELEMENT_AT")

  private def sha(f: File): String =
    MessageDigest.getInstance("SHA-256").digest(NFiles.readAllBytes(f.toPath)).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val root = new File(Main.parse(args.toList).root, s"selftest-${ProcessHandle.current.pid}")
    val sc = Scale(0.001)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    val gen = new File(root, "gen")
    def files(seed: Long): Seq[String] = {
      val fs = Seq(new File(gen, s"l$seed.csv"), new File(gen, s"o$seed.csv"), new File(gen, s"m$seed.zip"))
      Gen.writeLineCsv(fs(0), seed, sc); Gen.writeOrderCsv(fs(1), seed, sc); Gen.writeMediaZip(fs(2), seed, sc)
      val h = fs.map(sha); fs.foreach(_.delete()); h
    }
    val first = files(7)
    expect(first == files(7), "same seed gives byte-identical CSV and zip inputs")
    expect(first.zip(files(8)).forall { case (a, b) => a != b }, "another seed gives other inputs")
    expect(Gen.expectedUpsert(7, sc) == Gen.expectedUpsert(7, sc) &&
      Gen.expectedNested(7, sc) == Gen.expectedNested(7, sc), "same seed gives the same expected counts")
    val e = Gen.expectedUpsert(7, sc)
    expect(e.invalid > 0 && e.created > 0 && e.updated > 0 && e.created + e.updated < e.inputRows - e.invalid,
      s"upsert input has invalid rows, new keys, existing keys and duplicates ($e)")

    val spark = Main.session(root)
    try {
      val ctx = new Ctx(spark, new File(root, "data"), 7, sc, new StageListener(spark.sparkContext))
      Fixtures.dimensions(spark, 7, sc, ctx.dims, Seq("part", "supplier", "customer"))
      Workload.names.foreach { name =>
        val w = Workload(name, ctx)
        w.stage()
        val outcome = scala.util.Try {
          w.reset(); ctx.listener.reset()
          val errs = w.check(w.op(), ctx.listener.snapshot())
          expect(errs.isEmpty, s"$name run passes its output check ${errs.mkString("; ")}")
          w.reset(); spark.catalog.clearCache()
          val t = new Trace(ctx, new Tracer(s"selftest-$name"))
          w.traced(t)
          val traceErrs = w.traceCheck(t)
          expect(traceErrs.isEmpty, s"$name traced counts match the generator ${traceErrs.mkString("; ")}")
          val facadeErrs = w.facadeCheck()
          expect(facadeErrs.isEmpty, s"$name prefix chain equals the facade ${facadeErrs.mkString("; ")}")
          val selfSum = w.layers.map(t.self(_)._1).sum
          expect(selfSum > 0 && w.layers.forall(l => !t.has(l) || t.tracer.seconds(l) > 0),
            s"$name traced layers have spans")
        }
        (knownDefects.get(name), outcome) match {
          case (None, scala.util.Failure(e)) => throw e
          case (None, _) => ()
          case (Some(marker), scala.util.Failure(e)) if String.valueOf(e.getMessage).contains(marker) =>
            println(s"xfail $name: known engine defect ($marker)")
          case (Some(marker), scala.util.Failure(e)) =>
            expect(ok = false, s"$name failed, but not with the known defect $marker: $e")
          case (Some(marker), _) =>
            expect(ok = false, s"$name no longer fails with $marker: the defect is fixed, " +
              "so register the workload in BENCHMARK.json and drop it from knownDefects")
        }
      }
    } finally {
      spark.stop()
      Files.delete(root)
    }
    println(if (failures.isEmpty) "selftest passed" else s"selftest FAILED: ${failures.size} check(s)")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
