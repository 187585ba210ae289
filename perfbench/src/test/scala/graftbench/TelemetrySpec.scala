package graftbench

import java.util.Properties

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

class TelemetrySpec extends AnyFunSuite {
  private def stage(id: Int) = new StageInfo(id, 0, s"stage $id", 1, Seq.empty,
    Seq.empty, "", null, Seq.empty, None, 0, false, 0)

  private def group(g: String) = {
    val p = new Properties; p.setProperty("spark.jobGroup.id", g); p
  }

  private def task(stageId: Int) =
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, null, null, null)

  test("a tagged job belongs to the query and layer of its tag") {
    val t = new Telemetry
    t.current = "q66_other"; t.layer = "exec"
    t.onJobStart(SparkListenerJobStart(1, 100L, Seq(stage(3)), group("olap/q01_x/build")))
    t.onJobEnd(SparkListenerJobEnd(1, 180L, JobSucceeded))
    t.onTaskEnd(task(3))
    assert(t.jobs == Seq(JobRec("q01_x", "build", "olap/q01_x/build", 100L, 180L)))
    assert(t.counters("q01_x").jobs.sum == 1 && t.counters("q01_x").tasks.sum == 1)
    assert(t.counters("q66_other").jobs.sum == 0)
  }

  test("an untagged micro-batch job belongs to the query and layer it started in") {
    val t = new Telemetry
    t.current = "q44_stream"; t.layer = "build"
    // Spark groups a stream's micro-batch jobs under the stream's run id
    t.onJobStart(SparkListenerJobStart(7, 100L, Seq(stage(9)), group("5f0c1d2e-run-id")))
    // the harness moves on before the job's later events arrive
    t.current = "q66_next"; t.layer = "exec"
    t.onJobEnd(SparkListenerJobEnd(7, 250L, JobSucceeded))
    t.onTaskEnd(task(9))
    t.onTaskEnd(task(9))
    assert(t.jobs == Seq(JobRec("q44_stream", "build", "5f0c1d2e-run-id", 100L, 250L)))
    val c = t.counters("q44_stream")
    assert(c.jobs.sum == 1 && c.tasks.sum == 2)
    assert(t.counters("q66_next").tasks.sum == 0)
  }

  test("clear forgets finished jobs and counts") {
    val t = new Telemetry
    t.current = "q"; t.layer = "exec"
    t.onJobStart(SparkListenerJobStart(1, 1L, Nil, null))
    t.onJobEnd(SparkListenerJobEnd(1, 2L, JobSucceeded))
    assert(t.jobs.map(j => (j.query, j.layer)) == Seq(("q", "exec")))
    t.clear()
    assert(t.jobs.isEmpty && t.counters("q").jobs.sum == 0)
  }
}
