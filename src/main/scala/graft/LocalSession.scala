package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every graft main runs under, so a figure from one
  * tool (Bench, Verify, Explain, Audit, …) is measured under the same
  * session as the others: `local[cpus]` with as many shuffle partitions,
  * UTC, the legacy parquet nanos-as-long read the testdata needs, no UI,
  * and a 4096-entry codegen class cache. The suite cycles ~400 distinct
  * plans per rep; at the default 100 entries the cache thrashes and Janino
  * recompiles every face's generated classes every rep (thread samples
  * caught CodeGenerator.compile mid-bench). Static conf, so it is set at
  * session build; sized for a wide query surface, scale-independent. */
object LocalSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def apply(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}
