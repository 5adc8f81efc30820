package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: its name, its Spark builder over an sf directory,
  * and the DuckDB SQL whose result the driver hash-compares against the
  * builder's output. Each query module lists one per query in its
  * `all`, so a query cannot be registered without an oracle.
  */
final case class Query(
    name: String, build: (SparkSession, String) => DataFrame, oracle: String)
