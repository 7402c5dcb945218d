package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed row models for the TESTDATA tables — the `Dataset[T]` surface
  * (builder brief: case-class Encoders where type safety helps; the
  * dynamic-schema paths stay `DataFrame`).
  *
  * Field names/types mirror the parquet schemas exactly so `.as[T]`
  * is a zero-cost schema assertion: a drifted column fails at analysis
  * time instead of producing silent nulls mid-pipeline — the typed
  * equivalent of the reference's declared `field.types`
  * (`postgres.Rmd` passim).
  */
object Model {
  case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)

  case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: Timestamp, o_orderpriority: String)

  case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)

  case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

  def lineitems(spark: SparkSession, dir: String): Dataset[Lineitem] = {
    import spark.implicits._
    graft.io.Inputs.t(spark, dir, "lineitem").as[Lineitem]
  }

  def orders(spark: SparkSession, dir: String): Dataset[Order] = {
    import spark.implicits._
    graft.io.Inputs.t(spark, dir, "orders").as[Order]
  }

  def docs(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    graft.io.Inputs.t(spark, dir, "documents").as[Doc]
  }

  def embeddings(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    graft.io.Inputs.t(spark, dir, "embeddings").as[Embedding]
  }
}
