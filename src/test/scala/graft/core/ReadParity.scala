package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions._

/** Checks that [[Tables.parquet]] gives the frame `spark.read.parquet`
  * gives, and builds it without a Spark job. */
object ReadParity {

  /** `body`'s result and the number of jobs started while it ran. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { val r = body; org.apache.spark.ListenerBusDrain(sc); (r, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  /** The reader's frame for `path`: its schema (names, order, types,
    * nullability, field metadata) equals the inferred read's, building
    * it ran no job and, with `sameRows`, its rows equal the inferred
    * read's. */
  def check(spark: SparkSession, path: String, sameRows: Boolean = false): DataFrame = {
    val (df, jobs) = jobsDuring(spark) { val df = Tables.parquet(spark, path); df.schema; df }
    val inferred = spark.read.parquet(path)
    assert(df.schema == inferred.schema, s"$path: ${df.schema.treeString}")
    assert(df.schema.json == inferred.schema.json, path)
    assert(jobs == 0, s"$path: building the frame ran $jobs jobs")
    if (sameRows) {
      def rows(d: DataFrame) = d.collect().toSeq.map(_.toSeq.mkString("|")).sorted
      assert(rows(df) == rows(inferred), path)
    }
    df
  }
}
