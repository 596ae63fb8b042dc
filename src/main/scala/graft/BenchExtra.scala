package graft

/** Optimization-round measurement harness (guide §1): times SELECTED catalog
  * queries with the noop sink under the official bench's own session
  * (`Bench.session`: local[$SPARK_GRAFT_CPUS], shuffle.partitions=32, AQE on), with
  * optional repetitions, and dumps `.explain("formatted")` per query.
  *
  * This is a SEPARATE main from graft.Bench — the official harness is frozen.
  *
  * Usage: runMain graft.BenchExtra [--reps N] [--plans DIR] <query>... | all
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    var reps = 1
    var plansDir: Option[String] = None
    var names = Vector.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps"  => reps = args(i + 1).toInt; i += 2
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case q         => names :+= q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val skip = Set("fr_crawl_log", "fr_seen_set", "fr_lineage_metrics")
    val selected =
      if (names.contains("all"))
        SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => skip(q._1))
      else names.map(n => n -> SparkEntry.queries(n))

    val spark = Bench.session(cpus, "graft-benchextra")
    try {
      // same warmup as the official query phase
      (1 to 2).foreach { _ =>
        try Tables.read(spark, sfDir, "lineitem")
          .groupBy("l_returnflag").count().collect()
        catch { case _: Throwable => }
      }
      val results = selected.map { case (name, fn) =>
        plansDir.foreach { dir =>
          try {
            new java.io.File(dir).mkdirs()
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$dir/$name.txt"), plan)
          } catch { case e: Throwable =>
            System.err.println(s"[extra] $name explain failed: $e") }
        }
        val times = (1 to reps).map { r =>
          spark.sparkContext.setJobDescription(s"$name rep $r")
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          catch { case _: Throwable =>
            try fn(spark, sfDir).count() catch { case _: Throwable => } }
          val secs = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[extra] $name rep $r: $secs%.2f s")
          secs
        }
        name -> times
      }
      println("GRAFT_EXTRA_RESULT {" + results.map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
      }.mkString(",") + "}")
    } finally spark.stop()
  }
}
