package graft.operators

import graft.{Query, Tables}
import graft.Query.Q
import graft.Par.r6
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** UDF / UDAF surface (SURVEY.md §2.11).
  *
  * These exist to prove the extension points; the production guidance stays
  * "functions over UDFs" (a scala UDF is an opaque box to Catalyst — no
  * codegen fusion, no pushdown through it), which is why the UDF here is
  * applied *after* the join keys have done their work, and why the hot-path
  * cosine queries in VectorOps use codegen'd higher-order functions instead.
  */
object FunctionOps {
  /** Typed Aggregator: numerically-stable (sum,count) mean. Matches plain
    * avg() on the oracle side — the point is the Aggregator machinery. */
  object MeanAgg extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) =
      (b._1 + a, b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(b: (Double, Long)): Double =
      if (b._2 == 0) Double.NaN else b._1 / b._2
    def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder = Encoders.scalaDouble
  }

  /** Scalar dot-product UDF over consecutive embedding pairs — the
    * correctness baseline the custom codegen Expression is measured
    * against (SURVEY.md §4). */
  private val udfScalar: Q = (s, d) => {
    val dot = udf { (a: Seq[Float], b: Seq[Float]) =>
      var acc = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id"), col("embedding").as("ea"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
    a.join(b, Seq("vec_id"))
      .select(col("vec_id"), r6(dot(col("ea"), col("eb"))).as("sim_next"))
      .orderBy("vec_id")
  }

  /** Typed UDAF applied per event_type; oracle = plain avg. */
  private val udafAggregator: Q = (s, d) => {
    val meanUdaf = udaf(MeanAgg)
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(r6(meanUdaf(col("value"))).as("mean_value"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  val declared: Seq[Query] = Seq(
    Query("q_udf_scalar", udfScalar,
      """SELECT a.vec_id,
                floor((list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])))
                      * 1000000 + 0.5) / 1000000.0 AS sim_next
         FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         ORDER BY a.vec_id"""),
    Query("q_udaf_aggregator", udafAggregator,
      """SELECT event_type,
                floor((avg(value)) * 1000000 + 0.5) / 1000000.0
                  AS mean_value,
                count(*) AS cnt
         FROM events GROUP BY event_type ORDER BY event_type"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
