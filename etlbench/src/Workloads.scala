package etlbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.api.Engine
import graft.functions.Cols.qcol
import graft.operators._
import graft.registry.ContentType

/** What one import or export reports, as the reference's endpoint would. */
final case class OpResult(created: Long, updated: Long, errors: Long)

final class Ctx(val spark: SparkSession, val root: File, val seed: Long, val scale: Scale,
    val listener: StageListener) {
  val dims = new File(root, "dims")
  /** table schemas, inferred on first read, as a catalog would hold them */
  private val schemas = mutable.Map.empty[File, StructType]
  /** stored table of `uid`: a workload's own table dir, else a dimension */
  def table(tables: Map[String, File], uid: String): (DataFrame, String) = {
    val dir = tables.getOrElse(uid, new File(dims, uid.split('.').last))
    val schema = schemas.getOrElseUpdate(dir, spark.read.parquet(dir.getPath).schema)
    (spark.read.schema(schema).parquet(dir.getPath), Schemas.idCol(uid))
  }
  def engine(tables: Map[String, File]): Engine =
    new Engine(spark, Schemas.registry, table(tables, _))
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  def copy(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles.foreach(c => copy(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
  def bytes(f: File): Long =
    if (f.isDirectory) f.listFiles.map(bytes).sum else f.length()
}

/** Per-layer samples of one traced run.
  *
  * Spark is lazy, so a layer is timed from outside: after each layer the
  * pipeline so far runs into the `noop` sink inside a span named for the
  * layer (`prefix`), and the layer's self time is its prefix span minus the
  * previous prefix span. The JIT is still warming during a traced run, so
  * each prefix runs once first in a `<layer>.warm` span, which `warmS`
  * sums; otherwise a later, longer prefix can read faster than an earlier
  * one. Eager steps get a span of their own (`eager`);
  * writes that re-run the whole pipeline are charged net of the prefix
  * they re-run (`rerun`). Executor counters are drained outside each span.
  */
final class Trace(ctx: Ctx, val tracer: Tracer) {
  val Root = "traced_run"
  private final case class Sample(c: Counters, obs: Map[String, Long], base: Option[String])
  private val samples = mutable.LinkedHashMap.empty[String, Sample]
  private var lastPrefix: Option[String] = None

  def root(body: => Unit): Unit = tracer.span(Root)(body)

  private def measured[T](layer: String, base: Option[String])(body: => T): T = {
    ctx.listener.reset()
    val r = tracer.span(layer, Root)(body)
    samples(layer) = Sample(ctx.listener.snapshot(), Map.empty, base)
    r
  }
  private def observe(layer: String, obs: Map[String, Long]): Unit =
    samples(layer) = samples(layer).copy(obs = obs)

  /** Runs the pipeline so far once to compile and warm its code, then
    * again inside the layer's span.
    */
  def prefix(layer: String, df: DataFrame, extra: Seq[Column] = Nil): Unit = {
    tracer.span(s"$layer.warm", Root)(df.write.format("noop").mode("overwrite").save())
    val o = new Observation(layer)
    val observed = df.observe(o, count(lit(1)).as("rows"), extra: _*)
    measured(layer, lastPrefix)(observed.write.format("noop").mode("overwrite").save())
    observe(layer, o.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue })
    lastPrefix = Some(layer)
  }
  def eager[T](layer: String, obs: T => Map[String, Long] = (_: T) => Map.empty[String, Long])(
      body: => T): T = {
    val r = measured(layer, None)(body)
    observe(layer, obs(r))
    r
  }
  def rerun(layer: String)(body: => Unit): Unit = {
    val base = lastPrefix
    measured(layer, base)(body)
    observe(layer, Map("rows" -> samples(layer).c.outputRecords))
  }

  /** seconds the warm passes of `prefix` took: tracing cost, not pipeline work */
  def warmS: Double = tracer.spans.filter(_.name.endsWith(".warm")).map(_.seconds).sum

  def has(layer: String): Boolean = samples.contains(layer)
  def obs(layer: String, key: String): Long = samples.get(layer).flatMap(_.obs.get(key)).getOrElse(0L)
  def total(layer: String): Counters = samples.get(layer).map(_.c).getOrElse(Counters())
  /** (self seconds, self counters, rows out) */
  def self(layer: String): (Double, Counters, Long) = samples.get(layer) match {
    case None => (0.0, Counters(), 0L)
    case Some(s) =>
      val base = s.base.map(b => (tracer.seconds(b), samples(b).c)).getOrElse((0.0, Counters()))
      (tracer.seconds(layer) - base._1, s.c - base._2, s.obs.getOrElse("rows", 0L))
  }
}

abstract class Workload(val ctx: Ctx) {
  def name: String
  def expected: Gen.Expected
  /** data rows one run processes (the rows/s numerator) */
  def inputRows: Long = expected.inputRows
  protected lazy val dir = new File(ctx.root, name)
  protected val spark: SparkSession = ctx.spark
  protected def tables: Map[String, File]

  /** dimension tables this workload reads */
  def dimTables: Seq[String]
  /** the layers its traced run reports, used or not */
  def layers: Seq[String]
  /** generate this workload's inputs and pristine tables */
  def stage(): Unit
  /** this workload's own input files and tables */
  protected def inputFiles: Seq[File]
  /** bytes of the files one run reads as input */
  def inputBytes: Long = (inputFiles ++ dimTables.map(new File(ctx.dims, _))).map(Files.bytes).sum
  /** restore what the previous run changed */
  def reset(): Unit
  def op(): OpResult
  def check(r: OpResult, c: Counters): Seq[String]
  def traced(t: Trace): Unit
  /** the prefix chain's last frame equals the façade's output */
  def facadeCheck(): Seq[String]
  /** counts observed inside the traced run against the generator's */
  def traceCheck(t: Trace): Seq[String] = Nil

  protected def mismatches(xs: (String, Long, Long)*): Seq[String] =
    xs.collect { case (what, got, want) if got != want => s"$name $what: got $got, expected $want" }

  /** row count and an order-free checksum of every column */
  protected def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(qcol).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  protected def sameOutput(chain: DataFrame, facade: DataFrame, rows: Long): Seq[String] = {
    val (a, b) = (digest(chain), digest(facade))
    (if (a == b) Nil else Seq(s"$name prefix chain $a differs from the facade $b")) ++
      mismatches(("prefix-chain rows", a._1, rows))
  }
}

/** CSV text → `Engine.importCsv` → `writeTo` → `errors`, the reference's
  * `/import` response, against a pristine copy of the target.
  */
abstract class ImportWorkload(ctx: Ctx) extends Workload(ctx) {
  def ct: ContentType
  def upsert: Boolean
  def key: String
  def hasMedia: Boolean
  def writeInput(csv: File): Unit
  val layers: Seq[String] = Seq("scan", "plan", "Validator", "RelationResolver", "Components",
    "ZipSource", "Media", "Upsert.merge", "Upsert.write", "Upsert.report")

  protected def csvFile = new File(dir, "input.csv")
  protected def zipDir = new File(dir, "media")
  protected def pristine = new File(dir, "pristine")
  protected def target = new File(dir, "table")
  protected def tables: Map[String, File] = Map(ct.uid -> target)
  protected def stageTarget(pristine: File): Unit

  def stage(): Unit = {
    Files.delete(dir)
    writeInput(csvFile)
    if (hasMedia) Gen.writeMediaZip(new File(zipDir, "media.zip"), ctx.seed, ctx.scale)
    stageTarget(pristine)
  }
  protected def inputFiles: Seq[File] = Seq(csvFile, pristine) ++ (if (hasMedia) Seq(zipDir) else Nil)

  def reset(): Unit = {
    dir.listFiles.filter(_.getName.startsWith(target.getName)).foreach(Files.delete)
    Files.copy(pristine, target)
  }

  private def readCsv(): DataFrame = spark.read.option("header", "true").csv(csvFile.getPath)

  def op(): OpResult = {
    val eng = ctx.engine(tables)
    val media = if (hasMedia) Some(eng.uploadMediaZip(zipDir.getPath, ct.uid)) else None
    val r = eng.importCsv(readCsv(), ct.uid, upsert = upsert, upsertField = key, mediaFiles = media)
    r.writeTo(target.getPath)
    val errors = r.errors.size
    r.release()
    OpResult(r.created, r.updated, errors)
  }

  def check(r: OpResult, c: Counters): Seq[String] = {
    val e = expected
    mismatches(("created", r.created, e.created), ("updated", r.updated, e.updated),
      ("errors", r.errors, e.errors), ("rows written", c.outputRecords, e.rowsAfter))
  }

  /** the media library as `Engine.importCsv` consumes it: persisted, with
    * its per-field file counts
    */
  private def library(eng: Engine): (DataFrame, Map[String, Long]) = {
    val mf = eng.uploadMediaZip(zipDir.getPath, ct.uid).persist(StorageLevel.MEMORY_AND_DISK)
    (mf, mf.groupBy(col("field")).agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  private def relationAttrs: Seq[String] = ct.attributes.filter(_.isRelation).map(_.name)

  /** `Engine.importCsv` composed layer by layer from the same public
    * operators, in the same order; `after` sees the frame after each layer.
    */
  private def compose(csv: DataFrame, lib: Option[(DataFrame, Map[String, Long])],
      after: (String, DataFrame) => Unit): (Upsert.MergeResult, Validator.Result) = {
    val tbl = ctx.table(tables, _: String)
    after("scan", csv)
    val plan = HeaderMapper.plan(csv.columns.toSeq, ct)
    val validated = Validator.validate(csv, plan, ct)
    after("Validator", validated.valid)
    var df = validated.valid
    var resolved = false
    plan.valid.foreach {
      case HeaderMapping.RelationSearch(h, a, field) =>
        val (t, idCol) = tbl(a.target.get)
        resolved = true
        df =
          if (a.isMultiRelation) RelationResolver.resolveMultiByField(df, h, t, idCol, field, a.name).drop(h)
          else RelationResolver.resolveByField(df, h, t, idCol, field, a.name).drop(h)
      case HeaderMapping.Direct(_, a) if a.isRelation =>
        val (t, idCol) = tbl(a.target.get)
        resolved = true
        df =
          if (a.isMultiRelation)
            RelationResolver.resolveMultiBare(df, a.name, t, idCol, s"__${a.name}_ids")
              .withColumn(a.name, col(s"__${a.name}_ids")).drop(s"__${a.name}_ids")
          else
            RelationResolver.resolveBare(df, a.name, t, idCol, s"__${a.name}_rid")
              .withColumn(a.name, col(s"__${a.name}_rid")).drop(s"__${a.name}_rid")
      case _ => ()
    }
    if (resolved) after("RelationResolver", df)
    val lookup: Components.RelationLookup = (d, valueCol, targetUid, field, out) => {
      val (t, idCol) = tbl(targetUid)
      RelationResolver.resolveByField(d, valueCol, t, idCol, field, out)
    }
    val sources = Components.sourcesFromPlan(plan, Schemas.registry)
    sources.foreach(src => df = Components.assemble(df, src, lookup))
    if (sources.nonEmpty) after("Components", df)
    lib.foreach { case (mf, fieldCounts) =>
      ct.attributes.filter(_.isMedia).map(_.name).filter(fieldCounts.contains).foreach { f =>
        df = Media.matchFilesTheta(df, key, mf.filter(col("field") === f), "name", "file_id", f,
          knownFileCount = fieldCounts.get(f))
      }
      after("Media", df)
    }
    df = df.drop(Validator.RowNumCol)
    (Upsert.merge(tbl(ct.uid)._1, df, key, upsert), validated)
  }

  private def errorsOf(v: Validator.Result): Seq[String] =
    v.invalid.select(explode(col(Validator.ErrorsCol)).as("e")).limit(1000).collect()
      .map(_.getString(0)).toSeq

  def traced(t: Trace): Unit = {
    val eng = ctx.engine(tables)
    var lib: Option[(DataFrame, Map[String, Long])] = None
    t.root {
      val csv = readCsv()
      lib = if (hasMedia) Some(t.eager("ZipSource", (l: (DataFrame, Map[String, Long])) =>
        Map("rows" -> l._2.values.sum))(library(eng))) else None
      val extra: Map[String, Seq[Column]] = Map(
        "RelationResolver" -> relationAttrs.map(a => count(col(a))).reduceOption(_ + _).toSeq
          .flatMap(hits => Seq(hits.as("hits"), (count(lit(1)) * relationAttrs.size).as("lookups"))),
        "Media" -> ct.attributes.filter(_.isMedia).map(a => count(col(a.name)).as("matched")).take(1))
      val (mr, validated) = compose(csv, lib, (layer, df) => t.prefix(layer, df, extra.getOrElse(layer, Nil)))
      t.eager("plan")(compose(csv, lib, (_, _) => ())._1.merged.queryExecution.executedPlan)
      t.prefix("Upsert.merge", mr.merged)
      t.eager("Upsert.report", (r: Upsert.MergeResult) =>
          Map("rows" -> (r.created + r.updated), "updated" -> r.updated)) {
        t.tracer.span("Upsert.report.counters", "Upsert.report")(mr.snapshotCounters())
        t.tracer.span("Upsert.report.errors", "Upsert.report")(errorsOf(validated))
        mr
      }
      t.rerun("Upsert.write")(Upsert.writeSwap(spark, mr, target.getPath, snapshotCounters = true))
    }
    lib.foreach(_._1.unpersist(blocking = true))
  }

  override def traceCheck(t: Trace): Seq[String] = {
    val e = expected
    mismatches(("valid rows", t.obs("Validator", "rows"), e.inputRows - e.invalid)) ++
      (if (!hasMedia) Nil
       else mismatches(("media records", t.obs("Media", "matched"), e.mediaRecords),
         ("library files", t.obs("ZipSource", "rows"), e.mediaFiles)))
  }

  def facadeCheck(): Seq[String] = {
    reset()
    val eng = ctx.engine(tables)
    val lib = if (hasMedia) Some(library(eng)) else None
    val chain = compose(readCsv(), lib, (_, _) => ())._1.merged
    val facade = eng.importCsv(readCsv(), ct.uid, upsert = upsert, upsertField = key,
      mediaFiles = if (hasMedia) Some(eng.uploadMediaZip(zipDir.getPath, ct.uid)) else None)
    try sameOutput(chain, facade.merged, expected.rowsAfter)
    finally { facade.release(); lib.foreach(_._1.unpersist(blocking = true)) }
  }
}

final class ImportUpsert(ctx: Ctx) extends ImportWorkload(ctx) {
  val name = "import_upsert"
  val ct: ContentType = Schemas.line
  val upsert = true
  val key = "line_key"
  val hasMedia = false
  val dimTables = Seq("part", "supplier")
  lazy val expected: Gen.Expected = Gen.expectedUpsert(ctx.seed, ctx.scale)
  def writeInput(csv: File): Unit = Gen.writeLineCsv(csv, ctx.seed, ctx.scale)
  protected def stageTarget(p: File): Unit = Fixtures.lineTarget(spark, ctx.seed, ctx.scale, p)
}

final class ImportNestedMedia(ctx: Ctx) extends ImportWorkload(ctx) {
  val name = "import_nested_media"
  val ct: ContentType = Schemas.order
  val upsert = false
  val key = "order_key"
  val hasMedia = true
  val dimTables = Seq("part")
  lazy val expected: Gen.Expected = Gen.expectedNested(ctx.seed, ctx.scale)
  def writeInput(csv: File): Unit = Gen.writeOrderCsv(csv, ctx.seed, ctx.scale)
  protected def stageTarget(p: File): Unit = Fixtures.orderTarget(spark, ctx.seed, ctx.scale, p)
}

/** Stored nested table → `Engine.exportCsv(limit = all rows)` →
  * `Exporter.writeCsv` to disk.
  */
final class ExportFlatten(ctx: Ctx) extends Workload(ctx) {
  val name = "export_flatten"
  private val ct = Schemas.orderBook
  val dimTables = Seq("customer", "part")
  val layers: Seq[String] = Seq("scan", "plan", "Exporter.populate", "Exporter.size_pass",
    "Exporter.flatten", "Exporter.write")
  lazy val expected: Gen.Expected = Gen.expectedExport(ctx.seed, ctx.scale)
  private def stored = new File(dir, "stored")
  private def out = new File(dir, "out")
  protected def tables: Map[String, File] = Map(ct.uid -> stored)
  private def limit = ctx.scale.orders

  def stage(): Unit = { Files.delete(dir); Fixtures.orderBook(spark, ctx.seed, ctx.scale, stored) }
  protected def inputFiles: Seq[File] = Seq(stored)
  def reset(): Unit = Files.delete(out)

  def op(): OpResult = {
    Exporter.writeCsv(ctx.engine(tables).exportCsv(ct.uid, limit = limit), out.getPath)
    OpResult(0, 0, 0)
  }

  private def expectedHeader: Set[String] =
    Set("id", "order_key", "totalprice", "orderdate", "customer.c_name", "parts.p_name") ++
      (1 to expected.maxItems).flatMap(i => Seq("linenumber", "part", "quantity").map(k => s"items.$i.$k"))

  def check(r: OpResult, c: Counters): Seq[String] = {
    val header = out.listFiles.filter(f => f.getName.startsWith("part-") && f.length > 0)
      .sortBy(_.getName).headOption.map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().next().split(",").toSet finally src.close()
      }.getOrElse(Set.empty)
    mismatches(("rows written", c.outputRecords, expected.rowsAfter)) ++
      (if (header == expectedHeader) Nil
       else Seq(s"$name header ${header.toSeq.sorted.mkString(",")} is not the expected one"))
  }

  /** display attribute of a relation target, as `Engine.exportCsv` picks it */
  private def displayField(targetUid: String, target: DataFrame, idCol: String): String =
    Schemas.registry.contentType(targetUid).flatMap(_.attributes.headOption.map(_.name))
      .filter(target.columns.contains)
      .orElse(Seq("name", "title", "displayName").find(target.columns.contains))
      .getOrElse(idCol)

  /** `Engine.exportCsv` composed from the same public operators, in the
    * same order; `after` sees the frame after each layer.
    */
  private def compose(sizePass: (DataFrame, String) => Int, after: (String, DataFrame) => Unit): DataFrame = {
    val tbl = ctx.table(tables, _: String)
    val (st, idCol) = tbl(ct.uid)
    after("scan", st)
    var df = st
    var populated = false
    def donePopulating(): Unit = if (!populated) { populated = true; after("Exporter.populate", df) }
    ct.attributes.foreach { a =>
      if (a.isRelation) {
        val (t, tIdCol) = tbl(a.target.get)
        val display = displayField(a.target.get, t, tIdCol)
        df =
          if (a.isMultiRelation) Exporter.populateMultiRelation(df, a.name, t, tIdCol, display)
          else Exporter.populateRelation(df, a.name, t, tIdCol, display)
      } else if (a.isComponent) {
        donePopulating()
        if (a.repeatable) df = Exporter.flattenRepeatableComponent(df, a.name, sizePass(df, a.name))
        else df = Exporter.flattenSingleComponent(df, a.name)
      }
    }
    donePopulating()
    val result = Exporter.dropAudit(df).orderBy(qcol(idCol)).limit(limit)
    after("Exporter.flatten", result)
    result
  }

  def traced(t: Trace): Unit = t.root {
    val sizes = mutable.Map.empty[String, Int]
    val result = compose((df, f) => t.eager("Exporter.size_pass", (n: Int) => Map("rows" -> n.toLong)) {
      val n = Exporter.maxArraySize(df, f); sizes(f) = n; n
    }, (layer, df) => t.prefix(layer, df))
    t.eager("plan")(compose((_, f) => sizes(f), (_, _) => ()).queryExecution.executedPlan)
    t.rerun("Exporter.write")(Exporter.writeCsv(result, out.getPath))
  }

  def facadeCheck(): Seq[String] = {
    val chain = compose(Exporter.maxArraySize, (_, _) => ())
    sameOutput(chain, ctx.engine(tables).exportCsv(ct.uid, limit = limit), expected.rowsAfter)
  }
}

object Workload {
  val names: Seq[String] = Seq("import_upsert", "import_nested_media", "export_flatten")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "import_upsert" => new ImportUpsert(ctx)
    case "import_nested_media" => new ImportNestedMedia(ctx)
    case "export_flatten" => new ExportFlatten(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
