package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Tables` opens each test table with a declared schema, so no query
  * starts with Spark's schema-inference job. The declared schemas must be
  * the ones Spark infers from the files, or a query would read other types
  * than its DuckDB oracle does. */
class TablesSpec extends SparkSuite {

  test("each declared table schema is the inferred one at sf0.001 and sf0.01; " +
      "opening a table runs no job") {
    for (dir <- Seq("sf0.001", "sf0.01"); (name, declared) <- Tables.schemas.toSeq.sortBy(_._1)) {
      val inferred = spark.read.parquet(s"${sf(dir)}/$name.parquet").schema
      assert(declared === inferred, s"$dir/$name: declared $declared, inferred $inferred")
    }

    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try Tables.schemas.keys.foreach(n => assert(Tables.read(spark, sf("sf0.01"), n).schema.nonEmpty))
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get === 0, "opening the tables ran jobs")
  }
}
