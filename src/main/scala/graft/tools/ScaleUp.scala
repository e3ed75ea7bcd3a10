package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 testdata synthesis (r11 VERDICT #3): tile the driver's sf0.1
  * tables `factor`× with consistent key offsets, so the cost curves past
  * the tri-SF sweep's sf0.1 ceiling are measurable locally without
  * touching the read-only /root/testdata. Keys offset by a per-FAMILY
  * stride (custkey shared by customer/orders, orderkey by
  * orders/lineitem, ...) so referential joins stay exactly as dense as
  * the source; dimension tables (region/nation) copy once; every
  * non-key column — including timestamps — passes through RAW (no
  * Tables.load normalization), so the parquet physical types match the
  * driver's and the DuckDB oracle reads them identically.
  *
  * `runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor=10]`
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // one stride per KEY FAMILY, taken from the family's owning table so
    // fact-side foreign keys (always <= the dim max) stay referential
    val strides = Map(
      "custkey" -> stride(raw("customer"), "c_custkey"),
      "orderkey" -> stride(raw("orders"), "o_orderkey"),
      "partkey" -> stride(raw("part"), "p_partkey"),
      "suppkey" -> stride(raw("supplier"), "s_suppkey"),
      "event_id" -> stride(raw("events"), "event_id"),
      "user_id" -> stride(raw("events"), "user_id"),
      "doc_id" -> stride(raw("documents"), "doc_id"),
      "vec_id" -> stride(raw("embeddings"), "vec_id"))

    // (table, column -> key family); unlisted tables copy once
    val keyed: Map[String, Map[String, String]] = Map(
      "customer" -> Map("c_custkey" -> "custkey"),
      "supplier" -> Map("s_suppkey" -> "suppkey"),
      "part" -> Map("p_partkey" -> "partkey"),
      "orders" -> Map("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Map("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "events" -> Map("event_id" -> "event_id", "user_id" -> "user_id"),
      "documents" -> Map("doc_id" -> "doc_id"),
      "embeddings" -> Map("vec_id" -> "vec_id"))

    graft.Tables.names.foreach { t =>
      val df = raw(t)
      val copies = keyed.get(t) match {
        case None => df // dimension: copy once
        case Some(fams) =>
          (0 until factor).map { i =>
            df.select(df.columns.toSeq.map { c =>
              fams.get(c) match {
                case Some(f) => (col(c) + lit(i.toLong * strides(f))).as(c)
                case None => col(c)
              }
            }: _*)
          }.reduce(_ unionByName _)
      }
      copies.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst (${if (keyed.contains(t)) factor else 1}x)")
    }
    spark.stop()
  }
}
