package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry
import graft.repl.Boot

/** The dev-tool entry point over the driver queries:
  * `runMain graft.tools.Main <run|explain|profile> <sfDir> <query...>`
  *  - `run`: each query's schema and first rows, or its full cause chain.
  *  - `explain`: the formatted physical plan, to audit pushdown
  *    (PushedFilters/ReadSchema), join strategy (Broadcast vs SortMerge)
  *    and WholeStageCodegen coverage.
  *  - `profile`: one untimed warm run (fixture caches, codegen, JIT), then
  *    one profiled run: wall time, job count, summed job time (the gap to
  *    wall is driver-side work between jobs) and the slowest jobs with
  *    their call sites — where a lifecycle battery's many small actions
  *    spend their time, which no single plan shows.
  * A single query's oracle check is `graft.Verify <sfDir> <outDir> <query...>`.
  */
object Main {
  private val usage = "usage: graft.tools.Main <run|explain|profile> <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    val tool: (SparkSession, String, String) => Unit = args.headOption match {
      case Some("run")     => run
      case Some("explain") => explain
      case Some("profile") => profile
      case _               => fail(usage)
    }
    if (args.length < 3) fail(usage)
    val (sfDir, names) = (args(1), args.drop(2))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(", ")}\n$usage")
    val spark = Boot.buildSession(s"local[${Boot.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach(tool(spark, sfDir, _))
    finally spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private def run(spark: SparkSession, sfDir: String, name: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.limit(5).collect()
      println(f"== $name OK ${(System.nanoTime() - t0) / 1e9}%.2f sec")
      println(df.schema.simpleString)
      rows.foreach(println)
    } catch {
      // harness boundary: a fatal error (e.g. a deep plan's stack overflow)
      // is one of the failures this shows, and must not stop later queries
      case e: Throwable =>
        println(s"== $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        var c = e.getCause
        while (c != null) { println(s"   cause: ${c.getMessage}"); c = c.getCause }
    }
  }

  private def explain(spark: SparkSession, sfDir: String, name: String): Unit = {
    println(s"\n==================== $name ====================")
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  private def profile(spark: SparkSession, sfDir: String, name: String): Unit = {
    def once(): Unit = SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    once()
    spark.catalog.clearCache(); System.gc()
    // (jobId, start ms, end ms, description), filled on the listener bus
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          Option(j.properties.getProperty("spark.job.description"))
            // the result stage's name is the job's short call site
            .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, d) = Option(starts.get(j.jobId)).getOrElse((j.time, "?"))
        jobs.add((j.jobId, t0, j.time, d))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = try {
      val t0 = System.nanoTime()
      once()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let trailing job-end events drain
      secs
    } finally spark.sparkContext.removeSparkListener(listener)
    val done = jobs.asScala.toSeq
    val jobSecs = done.map(j => j._3 - j._2).sum / 1e3
    println(f"==== $name wall=$wall%.2fs jobs=${done.size}%d jobtime=$jobSecs%.2fs")
    done.sortBy(j => -(j._3 - j._2)).take(25).foreach { case (id, s, e, d) =>
      println(f"  job $id%4d ${(e - s) / 1e3}%6.2fs  ${d.take(110)}%s")
    }
  }
}
