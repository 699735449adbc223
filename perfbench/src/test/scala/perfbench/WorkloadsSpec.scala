package perfbench

import java.io.File

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload, traced, on tiny inputs: each model-against-program check
  * must hold, and only the known failing operation may fail.
  */
class WorkloadsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = new File("target/spec-work").getAbsoluteFile
  private lazy val spark = Main.session("2", work)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work)
  }

  private def ctx(name: String) =
    new Ctx(spark, 7L, 0.0, new Tracer(spark, true), new File(work, name), System.currentTimeMillis())

  /** Every workload reports the same metrics, each of them above 0. */
  private def reportsAll(out: Outcome): Unit = {
    assert(out.endToEnd.map(_.name) == Seq("iteration_s", "bytes_per_row"))
    assert(out.perLayer.map(_.name) == Seq("write.wall_s", "write.jobs", "write.tasks", "write.executor_cpu_s",
      "write.no_job_running_s", "read.wall_s", "read.jobs", "read.tasks", "read.executor_cpu_s",
      "read.no_job_running_s", "traced_iteration_s", "spark_jobs", "spark_tasks", "scheduler_delay_s",
      "no_job_running_s", "executor_cpu_s", "shuffle_write_bytes", "output_bytes"))
    assert((out.endToEnd ++ out.perLayer).forall(_.value > 0), out.endToEnd ++ out.perLayer)
  }

  test("etl_pipeline: outputs match the model; only the bigint side loads fail") {
    val out = Main.run(ctx("etl"), Seq(EtlWorkload.start(_, EtlWorkload.Size(workbooks = 2, rowsPerSheet = 20, baseRows = 200))))
    assert(out.errors.isEmpty, out.errors)
    assert(out.attempted == 3 * 5 && out.failed == 3)
    reportsAll(out)
  }

  test("lake_curation: every round and pass matches the model") {
    val out = Main.run(ctx("lake_curation"), Seq(
      LakeWorkload.start(_, LakeWorkload.Size(baseRows = 3000, mergeRows = 100, lookupIds = 50)),
      CurationWorkload.start(_, CurationWorkload.Size(docs = 150, vectors = 200, queries = 10))))
    assert(out.errors.isEmpty, out.errors)
    assert(out.attempted == 3 * (7 + 5) && out.failed == 0)
    reportsAll(out)
  }
}
