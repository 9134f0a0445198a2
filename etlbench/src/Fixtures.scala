package etlbench

import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.registry._

/** Content types of the three workloads. */
object Schemas {
  import AttrKind._
  private def rel(name: String, target: ContentType, kind: String = "manyToOne") =
    Attribute(name, RelationK, target = Some(target.uid), relationKind = Some(kind))

  val part = ContentType("api::part.part", "Part", Seq(Attribute("p_name", StringK, unique = true)))
  val supplier = ContentType("api::supplier.supplier", "Supplier", Seq(Attribute("name", StringK)))
  val customer = ContentType("api::customer.customer", "Customer", Seq(Attribute("c_name", StringK)))

  /** upsert target: typed line items with a dot-notation and a bare relation */
  val line = ContentType("api::line.line", "Line", Seq(
    Attribute("line_key", StringK, required = true, unique = true),
    Attribute("quantity", IntegerK),
    Attribute("extendedprice", DecimalK),
    Attribute("discount", DecimalK),
    Attribute("tax", DecimalK),
    Attribute("returnflag", EnumerationK, enumValues = Seq("A", "N", "R")),
    Attribute("linestatus", EnumerationK, enumValues = Seq("O", "F")),
    Attribute("shipdate", DateK),
    Attribute("is_open", BooleanK),
    rel("part", part),
    rel("supplier", supplier)))

  /** fields in name order: the assembler builds element structs sorted by
    * field name, so the stored type matches the assembled one
    */
  val item = ComponentType("bench.item", Seq(
    Attribute("linenumber", IntegerK), rel("part", part), Attribute("quantity", IntegerK)))

  /** append target: orders with a repeatable component and a media field */
  val order = ContentType("api::order.order", "Order", Seq(
    Attribute("order_key", StringK, required = true, unique = true),
    Attribute("orderstatus", EnumerationK, enumValues = Seq("O", "F", "P")),
    Attribute("totalprice", DecimalK),
    Attribute("orderdate", DateK),
    Attribute("orderpriority", StringK),
    Attribute("items", ComponentK, component = Some(item.uid), repeatable = true),
    Attribute("image", MediaK)))

  /** export source: relations first, then the component, as exported */
  val orderBook = ContentType("api::orderbook.orderbook", "OrderBook", Seq(
    Attribute("order_key", StringK, required = true, unique = true),
    Attribute("totalprice", DecimalK),
    Attribute("orderdate", DateK),
    rel("customer", customer),
    rel("parts", part, "manyToMany"),
    Attribute("items", ComponentK, component = Some(item.uid), repeatable = true)))

  val registry: ContentTypeRegistry =
    ContentTypeRegistry(Seq(part, supplier, customer, line, order, orderBook), Seq(item))

  /** id column of each stored table */
  def idCol(uid: String): String = uid match {
    case part.uid => "p_partkey"
    case supplier.uid => "s_suppkey"
    case customer.uid => "c_custkey"
    case _ => "id"
  }
}

/** Writes the stored tables (dimensions, pristine import targets, export
  * source) in parallel from the pure generator functions of [[Gen]].
  */
object Fixtures {
  private def ts(d: String): Timestamp = Timestamp.valueOf(d + " 00:00:00")

  private def write(spark: SparkSession, n: Long, schema: StructType, dir: File)(
      rows: Long => Iterator[Row]): Unit = {
    val rdd = spark.sparkContext.range(0L, n, 1L, spark.sparkContext.defaultParallelism).flatMap(rows)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(dir.getPath)
  }

  /** the dimension tables named in `names` (part, supplier, customer) */
  def dimensions(spark: SparkSession, seed: Long, sc: Scale, root: File, names: Seq[String]): Unit = {
    def dim(name: String, n: Int, key: String, col: String)(value: Int => String): Unit =
      if (names.contains(name))
        write(spark, n, StructType(Seq(StructField(key, LongType), StructField(col, StringType))),
          new File(root, name))(i => Iterator(Row(i + 1, value((i + 1).toInt))))
    dim("part", sc.parts, "p_partkey", "p_name")(Gen.partName(seed, _))
    dim("supplier", sc.suppliers, "s_suppkey", "name")(Gen.supplierName)
    dim("customer", sc.customers, "c_custkey", "c_name")(Gen.customerName)
  }

  private def itemRows(seed: Long, sc: Scale, o: Long): Seq[Row] =
    (1 to Gen.linesOf(seed, o)).map(ln =>
      Row(ln, Gen.partOf(seed, o, ln, sc).toLong, Gen.quantity(seed, o, ln)))

  /** Upsert target: about half of the input's keys plus keys of orders
    * beyond the input, with well-formed typed values.
    */
  def lineTarget(spark: SparkSession, seed: Long, sc: Scale, dir: File): Unit =
    write(spark, sc.orders.toLong + sc.extraTargetOrders,
      Schemas.line.sparkType(Schemas.registry), dir) { o =>
      (1 to Gen.linesOf(seed, o)).iterator
        .filter(ln => o >= sc.orders || Gen.inTarget(seed, o, ln))
        .map { ln =>
          val q = Gen.quantity(seed, o, ln)
          Row(o * 8 + ln, Gen.lineKey(o, ln), q, q * 91.5, 0.05, 0.02, "N", "O",
            ts(Gen.date(seed, 32, o, ln)), true, Gen.partOf(seed, o, ln, sc).toLong,
            Gen.supplierOf(seed, o, ln, sc).toLong)
        }
    }

  /** Append target: orders beyond the input, with items and no media. */
  def orderTarget(spark: SparkSession, seed: Long, sc: Scale, dir: File): Unit =
    write(spark, sc.nestedTargetOrders, Schemas.order.sparkType(Schemas.registry), dir) { i =>
      val o = sc.orders + i
      Iterator(Row(o, Gen.orderKey(o), Gen.orderStatus(seed, o), 1000.0 + i,
        ts(Gen.date(seed, 33, o, 0)), Gen.orderPriority(seed, o), itemRows(seed, sc, o), null))
    }

  /** Export source: every input order with its customer, its parts and its items. */
  def orderBook(spark: SparkSession, seed: Long, sc: Scale, dir: File): Unit = {
    val schema = StructType(Schemas.orderBook.sparkType(Schemas.registry).fields ++
      Seq(StructField("createdAt", StringType), StructField("updatedAt", StringType)))
    write(spark, sc.orders, schema, dir) { o =>
      val items = itemRows(seed, sc, o)
      Iterator(Row(o, Gen.orderKey(o), Gen.totalPrice(seed, o).toDouble,
        ts(Gen.date(seed, 33, o, 0)), Gen.customerOf(seed, o, sc).toLong,
        items.map(_.getLong(1)), items, "2024-01-01", "2024-01-02"))
    }
  }
}
