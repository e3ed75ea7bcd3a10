package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The non-streaming faces the analytics workload times, their fixed
  * fixture, and their pinned answers. */
object Faces {

  /** Fixed order: build-dominated, join + aggregate, exec-dominated. */
  val Names: Seq[String] = Seq(
    "dd_cluster_incremental", "q20_dominant_supplier", "q_percentiles")

  /** (row count, [[rowHash]]) per face on [[fixture]], pinned from the
    * seed code and cross-checked against the DuckDB oracle SQL in
    * `SparkEntry.oracleSql` (see the benchmark README). */
  val Pinned: Map[String, (Long, Long)] = Map(
    "dd_cluster_incremental" -> ((84L, 1794350288091230634L)),
    "q20_dominant_supplier" -> ((13L, -2610277688512097515L)),
    "q_percentiles" -> ((3L, -2195305374437514736L)))

  val LineitemRows = 20000
  val Suppliers = 50
  val Documents = 300

  /** Writes lineitem, supplier and documents parquet under `dir`, the
    * tables the three faces read, with the testdata's column names and
    * types. Seed-independent: the answers stay pinnable. */
  def fixture(spark: SparkSession, dir: String): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(spark.range(0, LineitemRows, 1, 1).selectExpr(
      "id div 4 + 1 AS l_orderkey",
      s"pmod(xxhash64(id, 1), ${LineitemRows / 50}) + 1 AS l_partkey",
      // a quarter of the lines go to one of 13 suppliers per part, so a
      // few suppliers dominate some parts (q20 has a selective answer)
      s"IF(pmod(id, 4) = 0, pmod((pmod(xxhash64(id, 1), ${LineitemRows / 50}) + 1) * 7, 13)," +
        s" pmod(xxhash64(id, 2), $Suppliers)) AS l_suppkey",
      "CAST(pmod(id, 4) + 1 AS INT) AS l_linenumber",
      "CAST(pmod(xxhash64(id, 3), 50) + 1 AS DOUBLE) AS l_quantity",
      "CAST(pmod(xxhash64(id, 4), 10000000) AS DOUBLE) / 100 AS l_extendedprice",
      "CAST(pmod(xxhash64(id, 5), 11) AS DOUBLE) / 100 AS l_discount",
      "CAST(pmod(xxhash64(id, 6), 9) AS DOUBLE) / 100 AS l_tax",
      "element_at(array('A', 'N', 'R'), CAST(pmod(xxhash64(id, 7), 3) AS INT) + 1) AS l_returnflag",
      "IF(pmod(xxhash64(id, 8), 2) = 0, 'O', 'F') AS l_linestatus",
      "CAST(date_add(DATE'1992-01-01', CAST(pmod(xxhash64(id, 9), 2500) AS INT)) AS TIMESTAMP) AS l_shipdate"),
      "lineitem")
    save(spark.range(0, Suppliers, 1, 1).selectExpr(
      "id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      "CAST(pmod(xxhash64(id, 10), 25) AS INT) AS s_nationkey",
      "CAST(pmod(xxhash64(id, 11), 1000000) AS DOUBLE) / 100 AS s_acctbal"),
      "supplier")
    val words = Array("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "query", "agg", "table",
      "hash", "key", "group", "stream", "vector", "filter", "join", "slow")
    val langs = Array("en", "en", "zh", "de", "es", "fr")
    val rnd = new java.util.SplittableRandom(20240101L)
    val texts = new Array[String](Documents)
    val rows = new java.util.ArrayList[Row](Documents)
    for (i <- 0 until Documents) {
      // every 7th doc is a near copy of its predecessor (one word swapped),
      // so the dedup faces find clusters across the standing/delta split
      texts(i) =
        if (i % 7 == 6) {
          val w = texts(i - 1).split(" ")
          w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.length))
          w.mkString(" ")
        } else Seq.fill(15 + rnd.nextInt(60))(words(rnd.nextInt(words.length))).mkString(" ")
      rows.add(Row(i.toLong, texts(i), langs(i % langs.length), s"src${i % 20}",
        texts(i).length.toLong))
    }
    save(spark.createDataFrame(rows, new org.apache.spark.sql.types.StructType()
      .add("doc_id", "bigint").add("text", "string").add("lang", "string")
      .add("source", "string").add("n_chars", "bigint")), "documents")
  }

  /** Order-independent hash of a face's rows: wrapping sum of the
    * xxhash64 of each row's string form (duplicates count). */
  def rowHash(rows: Array[Row]): Long =
    rows.foldLeft(0L)((acc, r) => acc + Gen.xxhash64(r.toString))

  def frame(spark: SparkSession, name: String, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)
}
