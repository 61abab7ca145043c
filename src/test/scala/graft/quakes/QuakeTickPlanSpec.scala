package graft.quakes

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.sources.{FakeTransport, HttpResponse}

/** The fixed cost of one scheduled run (task.ts:160-261): a
  * `QuakeRunner.run` tick is one Spark job of one codegen'd stage, and the
  * stage's generated source does not depend on the run clock, so a later
  * tick reuses the classes the first one compiled.
  */
class QuakeTickPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Tag = "graft.spec.quakeTick"

  /** One tick at `nowMs`: its executed plans and the jobs it started. */
  private def tick(nowMs: Long): (Seq[SparkPlan], Int) = {
    val sc = spark.sparkContext
    val plans = ArrayBuffer.empty[SparkPlan]
    val jobs = new AtomicInteger(0)
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // only jobs started from this thread carry the tag
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty(Tag) != null) { jobs.incrementAndGet(); () }
    }
    spark.listenerManager.register(qeListener)
    sc.addSparkListener(jobListener)
    sc.setLocalProperty(Tag, "1")
    try {
      val transport = new FakeTransport(_ => HttpResponse(200, "OK", FixtureJson))
      val n = QuakeRunner.run(spark, Map.empty, "http://localhost/layer/feature",
        transport = transport, nowMs = nowMs, log = _ => ())
      assert(n == 3 && transport.posts.size == 1)
      org.apache.spark.grafttest.ListenerBusBridge.waitUntilEmpty(sc)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    (plans.synchronized(plans.toSeq), jobs.get())
  }

  test("a tick is one job with no exchange, and a later clock reuses the " +
    "first tick's generated code") {
    val (plans1, jobs1) = tick(FixtureNowMs)
    val (plans2, jobs2) = tick(FixtureNowMs + 60000L)
    assert(plans1.size == 1 && plans2.size == 1)
    assert(jobs1 == 1 && jobs2 == 1, s"jobs per tick: $jobs1, $jobs2")
    for (plan <- plans1 ++ plans2) {
      val exchanges = plan.collect {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }
      assert(exchanges.isEmpty, plan.treeString)
    }
    val code1 = codegenStringSeq(plans1.head).map(_._2)
    val code2 = codegenStringSeq(plans2.head).map(_._2)
    assert(code1.size == 1, plans1.head.treeString)
    assert(code2 == code1, "the run clock reached the generated source")
  }
}
