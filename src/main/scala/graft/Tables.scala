package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ten test tables (TESTDATA.md), each opened with its declared schema.
  * A parquet read without a schema lists and reads a footer in a 1-task
  * job before the query's own jobs; every catalog query paid that job once
  * per table it reads. The schemas are the ones Spark infers from the
  * files, identical at sf0.001, sf0.01 and sf0.1 (`TablesSpec` checks
  * this). The timestamp columns are parquet timestamps not adjusted to
  * UTC, which Spark reads as TIMESTAMP_NTZ.
  */
object Tables {

  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** Table `name` of the test-table directory `dir`. */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
}
