package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-query driver-job breakdown: runs each named SparkEntry query once
  * (after one sf0.001 warmup) under a listener that records every driver
  * job's wall duration and call site, then prints the job count, total
  * job-covered seconds, and the slowest jobs. At bench scale most queries
  * are FIXED-LATENCY-bound (many small jobs, each 30-300 ms of scheduling +
  * commit overhead), so the job count and the per-job histogram — not stage
  * CPU — are the cost model that says what to cut (guide §1: measure first;
  * the job list maps 1:1 to collect()s, writes, and commits in the
  * operator). Each line also carries the query's Janino compile count and
  * summed compile time: generated classes missing from Spark's codegen
  * cache, i.e. a cache sized below the working set shows up as compiles
  * that do not fall after the warmup. Usage: runMain graft.tools.QueryProbe
  * <query> [<query>...] [--sf <dir>]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    val sfDir = flags.find(_.startsWith("--sf")).map(_ => args(args.indexOf("--sf") + 1))
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.builder().appName("query-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class Job(id: Int, site: String, var ms: Long = -1, start: Long = 0)
    val jobs = java.util.Collections.synchronizedList(new java.util.ArrayList[Job]())
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (recording) {
        // the final stage's name carries the action's call site (e.g.
        // "collect at Dedup.scala:334"); job description/properties are
        // usually empty under library code
        val desc = Option(j.properties.getProperty("spark.job.description"))
          .filter(_.nonEmpty)
        val stage = j.stageInfos.lastOption.map(s => s.name.take(60)).getOrElse("?")
        val site = desc.map(d => s"$d | $stage").getOrElse(stage)
        starts.put(j.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
        Option(starts.remove(e.jobId)).foreach { case (site, t0) =>
          jobs.add(Job(e.jobId, site, (System.nanoTime() - t0) / 1000000))
        }
      }
    })

    val qs = SparkEntry.queries
    names.filterNot(_ == sfDir).foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      // warmup on the smallest sf: codegen/classloading paid outside the probe
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[probe] warmup $name: ${e.getMessage}") }
      GraftSession.stopAllStreams(spark)
      jobs.clear(); starts.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallS = (System.nanoTime() - t0) / 1e9
      recording = false
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toVector
      val totalJobS = js.map(_.ms).sum / 1e3
      println(f"[probe] $name: wall=$wallS%.2fs jobs=${js.size} job_covered=$totalJobS%.2fs" +
        f" compiles=$compiles compile=$compileS%.2fs")
      // histogram: group identical call sites, show count + summed ms
      js.groupBy(_.site).toVector.map { case (s, g) => (s, g.size, g.map(_.ms).sum) }
        .sortBy(-_._3).take(30).foreach { case (s, n, ms) =>
          println(f"[probe]   $ms%6dms x$n%-3d $s")
        }
    }
    spark.stop()
  }
}
