package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{Bench, JobCounter, SparkSpecBase}
import graft.analytics.StreamProAnalytics
import graft.fixtures.StreamProFixture
import graft.pipeline.Pipeline

/** The tagged-listener collector behind LayerProfile and JobCounter. */
class LayerProfileSpec extends SparkSpecBase {

  test("q05_join_agg: jobs >= 1, stages >= jobs, tasks >= stages, and every job the session ran is counted") {
    val gate = Bench.gate("q05_join_agg").get
    def run(): Unit = gate(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // warm, so both measured executions take the same plan
    val sc = spark.sparkContext
    val all = new AtomicInteger
    val untagged = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = all.incrementAndGet()
    }
    sc.addSparkListener(untagged)
    val phases = try LayerProfile.rep(spark, gate, sfDir) finally {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(untagged)
    }
    assert(phases.map(_._1) === Seq("construct", "plan", "exec"))
    val works = phases.map(_._2.work)
    val (jobs, stages, tasks) = (works.map(_.jobs).sum, works.map(_.stages).sum, works.map(_.tasks).sum)
    assert(jobs >= 1)
    assert(stages >= jobs)
    assert(tasks >= stages)
    assert(jobs === all.get)
    val exec = phases.last._2
    assert(exec.work.jobSpans.size === exec.work.jobs)
    assert(works.forall(w => w.sites.size === w.jobs))
    val (_, counted) = JobCounter.count(spark)(run())
    assert(counted === jobs)
  }

  test("q3CompositeScores: construct launches no job, exec launches the plan's jobs") {
    val dir = Files.createTempDirectory("graft-layer-profile")
    StreamProFixture.writeLanding(dir)
    assert(Pipeline.run(spark, Pipeline.Config(dir.toString, StreamProFixture.IngestionDate))
      .forall(_.success))
    val phases = LayerProfile.rep(spark, (s, _) => StreamProAnalytics.q3CompositeScores(s), "").toMap
    assert(phases("construct").work.jobs === 0)
    assert(phases("exec").work.jobs >= 1)
  }
}
