package graft.schemas

import org.apache.spark.sql.types._

/** A foreign-key constraint: `column` must reference `refColumn` of `refTable`.
  * Mirrors the referential-integrity rules of the reference pipeline
  * (reference: src/etl_utils.py:125-159).
  */
final case class ForeignKey(column: String, refTable: String, refColumn: String)

/** A table-specific validation rule: rows where `fails` evaluates true get
  * `message` appended to their error accumulator. The condition is built from
  * the table's own columns (pure Catalyst expression — codegen'd, no UDF).
  */
final case class RowRule(message: String, fails: org.apache.spark.sql.Column)

/** Declarative description of a managed table: schema (with nullability used
  * as validation contract), primary key, partition layout, and FK edges.
  * Replaces the reference's string-keyed dispatch (reference:
  * src/glue_etl.py:302,321) with one typed value.
  */
final case class TableSpec(
    name: String,
    schema: StructType,
    primaryKey: Seq[String],
    partitionColumns: Seq[String] = Nil,
    foreignKeys: Seq[ForeignKey] = Nil,
    rules: Seq[RowRule] = Nil) {
  def columnNames: Seq[String] = schema.fields.map(_.name).toSeq
}

/** The three e-commerce tables of the reference lakehouse, with the
  * authoritative `StructType`s (reference: src/etl_utils.py:33-57 /
  * src/glue_etl.py:33-59 — ids are int, not the README's string).
  */
object Schemas {
  import org.apache.spark.sql.functions.col

  val products: StructType = StructType(Seq(
    StructField("product_id", IntegerType, nullable = false),
    StructField("department_id", IntegerType, nullable = true),
    StructField("department", StringType, nullable = true),
    StructField("product_name", StringType, nullable = false)))

  val orders: StructType = StructType(Seq(
    StructField("order_num", IntegerType, nullable = true),
    StructField("order_id", IntegerType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("order_timestamp", TimestampType, nullable = false),
    StructField("total_amount", DoubleType, nullable = true),
    StructField("date", DateType, nullable = false)))

  val orderItems: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("order_id", IntegerType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("days_since_prior_order", IntegerType, nullable = true),
    StructField("product_id", IntegerType, nullable = false),
    StructField("add_to_cart_order", IntegerType, nullable = true),
    StructField("reordered", IntegerType, nullable = true),
    StructField("order_timestamp", TimestampType, nullable = false),
    StructField("date", DateType, nullable = false)))

  val productsSpec: TableSpec = TableSpec(
    name = "products",
    schema = products,
    primaryKey = Seq("product_id"),
    partitionColumns = Seq("department"))

  /** total_amount, when present, must be strictly positive
    * (reference: src/etl_utils.py:163-168).
    */
  val ordersSpec: TableSpec = TableSpec(
    name = "orders",
    schema = orders,
    primaryKey = Seq("order_id"),
    partitionColumns = Seq("date"),
    rules = Seq(
      RowRule("Invalid total_amount: must be > 0",
        col("total_amount").isNotNull && col("total_amount") <= 0)))

  val orderItemsSpec: TableSpec = TableSpec(
    name = "order_items",
    schema = orderItems,
    primaryKey = Seq("id"),
    partitionColumns = Seq("date"),
    foreignKeys = Seq(
      ForeignKey("order_id", "orders", "order_id"),
      ForeignKey("product_id", "products", "product_id")))

  val all: Seq[TableSpec] = Seq(productsSpec, ordersSpec, orderItemsSpec)
}
