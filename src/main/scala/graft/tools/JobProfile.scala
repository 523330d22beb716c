package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-timeline profile of one declared query (round 17, guide §1):
  * run `<query>` once warm + once measured with a listener recording
  * every job's (start-offset, duration, description), then print the
  * timeline and the driver-gap total. Attributes seconds to "many small
  * jobs" vs "driver gaps between jobs" vs "few big jobs" — the triage
  * the scaling ratios (c8≈c32) say matters for the streaming/lake
  * gates. Usage: runMain graft.tools.JobProfile <queryName> [sfDir] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir]"))
    val sf = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.Session.local(graft.Session.cpus(32), "graft-jobprofile", "ERROR")
    val fn = graft.SparkEntry.queries(name)

    def once(label: String): Unit = {
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(js.jobId, (js.time, desc)); ()
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(jobs.remove(je.jobId)).foreach { case (t0, desc) =>
            done.add((je.jobId, t0, je.time, desc)) }; ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      val w0 = System.nanoTime()
      fn(spark, sf).queryExecution.toRdd.count()
      graft.operators.CacheScope.releaseAll(blocking = true)
      val wall = (System.nanoTime() - w0) / 1e9
      spark.sparkContext.removeSparkListener(l)
      Thread.sleep(300) // let the listener bus drain
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._2)
      val busy = rows.map(r => r._3 - r._2).sum / 1e3
      // driver gaps: wall minus the union of job intervals
      val merged = rows.map(r => (r._2, r._3)).sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case (acc @ ((s0, e0) :: tl), (s, e)) =>
            if (s <= e0) (s0, math.max(e0, e)) :: tl else (s, e) :: acc
          case (Nil, iv) => iv :: Nil
        }
      val covered = merged.map { case (s, e) => e - s }.sum / 1e3
      println(f"[$label] $name wall=$wall%.2fs jobs=${rows.size} " +
        f"jobTimeSum=$busy%.2fs jobCoverage=$covered%.2fs driverGaps=${wall - covered}%.2fs")
      val t0 = rows.headOption.map(_._2).getOrElse(0L)
      rows.foreach { case (id, s, e, desc) =>
        println(f"  job $id%3d +${(s - t0) / 1e3}%7.2fs ${(e - s) / 1e3}%6.2fs ${desc.take(80)}")
      }
    }
    once("warm")
    once("timed")
    spark.stop()
  }
}
