package graft.tools

import org.apache.spark.scheduler._

/** Diagnostic (round-14 streaming-harness work): job-level timing of
  * one streaming door — where do the per-batch seconds go?
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    // args: <sfDir> <query> [query...]
    val spark = graft.SparkEnv.session()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // Attribute each job: prefer the explicit description, fall
        // back to the final stage's call site (the action that ran).
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
        val desc = prop("spark.job.description")
          .orElse(prop("callSite.short"))
          .orElse(e.stageInfos.lastOption.map(_.name).filter(_.nonEmpty))
          .getOrElse("?")
        val tasks = e.stageInfos.map(_.numTasks).sum
        starts.put(e.jobId,
          (System.nanoTime(), s"[${e.stageInfos.size}st/${tasks}tk] " +
            desc.take(110)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = starts.get(e.jobId)
        if (st != null) jobs.add((e.jobId, System.nanoTime() - st._1, st._2))
      }
    })
    args.drop(1).foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      // warmup pass
      fn(spark, d).count()
      graft.queries.RegistryState.reset()
      Thread.sleep(500); jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, d).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      val js = jobs.iterator().asScala.toSeq.sortBy(_._1)
      println(f"TOTAL $q: $total%.2f s, ${js.size} jobs, " +
        f"job-sum ${js.map(_._2).sum / 1e9}%.2f s")
      js.foreach { case (id, ns, desc) =>
        println(f"  job $id%3d ${ns / 1e9}%6.3f s  $desc")
      }
    }
    spark.stop()
    graft.queries.RegistryState.close()
  }
}
