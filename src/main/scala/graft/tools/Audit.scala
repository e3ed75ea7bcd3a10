package graft.tools

import graft.SparkEntry

/** Scale-smell audit over every SparkEntry query: flags plan shapes that
  * break at 100 TB — cartesian products, nested-loop joins, and broadcast
  * exchanges built from SF-scaled tables (anything but nation/region).
  * `runMain graft.tools.Audit [sfDir] [outJson]`.
  *
  * With `outJson` the audit also lands as a per-round ARTIFACT
  * (`AUDIT_r{N}.json`, committed next to CORRECTNESS): per face the total
  * Exchange mentions (the metric reported since r3 — includes broadcast),
  * the real shuffle-exchange line count, codegen span count and flags —
  * so a plan regression diffs as a red row instead of needing a by-hand
  * re-run (r9 VERDICT #8).
  */
object Audit {
  private val fixedSizeTables = Set("nation", "region")
  private val scaledTables =
    Set("customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val rows = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // run THIS dataframe's own physical plan (df.foreach would execute
        // the separate rddQueryExecution and leave this one unfinalized —
        // its string then has no codegen markers and isFinalPlan=false),
        // then stringify the AQE-final inner plan
        df.queryExecution.executedPlan.execute().count()
        val planTree = PlanChecks.finalPlan(df)
        val plan = planTree.toString
        val flags = scala.collection.mutable.ArrayBuffer[String]()
        if (plan.contains("CartesianProduct")) flags += "CARTESIAN"
        if (plan.contains("BroadcastNestedLoopJoin")) flags += "BNLJ"
        // r11 VERDICT #1: an unpartitioned Window whose input is not
        // aggregate-sized sorts the whole input in ONE task — fine at
        // sf0.1, a straggler/OOM at 100×
        val gw = PlanChecks.globalWindowsOverRaw(planTree)
        if (gw > 0) flags += s"GLOBALWINDOW($gw)"
        // a broadcast subtree whose scan reads an SF-scaled parquet
        val broadcastBlocks = plan.split("BroadcastExchange").drop(1)
        val broadcastScaled = scaledTables.filter(t =>
          broadcastBlocks.exists(b =>
            b.linesIterator.take(30).exists(_.contains(s"$t.parquet"))))
        // lineitem as broadcast is always wrong; others are AQE-sized at
        // test SF and switch to shuffle joins at scale (no explicit hint)
        if (broadcastScaled.nonEmpty) flags += s"bcast(${broadcastScaled.mkString(",")})"
        // codegen stages appear as "*(n)" markers in the final plan string
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        val exch = "Exchange".r.findAllIn(plan).size
        // real data-movement exchanges: shuffle lines, excluding the
        // ReusedExchange echo of its target's description
        val shuffle = plan.split("\n").count(l =>
          (l.contains("Exchange hashpartitioning") ||
            l.contains("Exchange rangepartitioning") ||
            l.contains("Exchange SinglePartition")) &&
            !l.contains("ReusedExchange"))
        println(f"$name%-24s exch=$exch%-3d codegenSpans=$wsc%-3d ${flags.mkString(" ")}")
        rows(name) = s"""{"exch": $exch, "shuffle": $shuffle, """ +
          s""""codegen_spans": $wsc, "flags": [${flags.map(f => "\"" + f + "\"").mkString(", ")}], "err": null}"""
      } catch {
        case e: Throwable =>
          println(f"$name%-24s ERROR ${e.getMessage.take(80)}")
          // escape EVERY control char (not just \n\r\t) — a stray ANSI
          // escape in an exception message must not unparse the artifact
          val msg = Option(e.getMessage).getOrElse("").take(200).flatMap {
            case '\\' => "\\\\"
            case '"' => "\\\""
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          }
          rows(name) = s"""{"exch": null, "shuffle": null, """ +
            s""""codegen_spans": null, "flags": [], "err": "$msg"}"""
      }
    }
    outJson.foreach { p =>
      val json = rows.map { case (k, v) => s"""  "$k": $v""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
      println(s"audit written to $p")
    }
    spark.stop()
  }
}
