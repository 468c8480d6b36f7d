package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins full-plan timing: for every workload query, the plans the timed
  * call executes keep every aggregate and window expression of the
  * query's own optimized plan, so a sink that lets Catalyst prune work
  * (as `count()` does) cannot come back unnoticed. */
class FullPlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory(
    Files.createDirectories(new java.io.File("target").toPath.toAbsolutePath), "fullplan").toFile
  private lazy val spark: SparkSession = Harness.session(2, dir.getPath)
  private lazy val grid: String = {
    val path = new java.io.File(dir, "grid.parquet").getPath
    assert(sys.process.Process(Seq("python3", "gen.py", path, "1", "4096")).! == 0)
    path
  }

  override def afterAll(): Unit = {
    spark.stop()
    new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  /** Optimized plans of every query execution `run` starts. */
  private def executed(run: => Unit): Seq[LogicalPlan] = {
    val plans = mutable.ArrayBuffer[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.synchronized(plans += qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try run finally {
      Internals.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.toSeq
  }

  private def workload(name: String): Workload = Workload(name,
    if (name.startsWith("grid")) grid else new java.io.File("data/sf0.01").getAbsolutePath, 1L)

  for (w <- Seq("grid_reduce", "grid_scan", "catalog"); q <- Workload(w, "", 1L).queries.map(_.name))
    test(s"$w/$q: the timed sink keeps every aggregate and window") {
      val df = workload(w).queries.find(_.name == q).get.build(spark)
      val own = df.queryExecution.optimizedPlan
      assert(Sink.missing(own, executed(Sink.run(df))).isEmpty)
    }

  test("count() drops the scan's window, and the check sees it") {
    val df = workload("grid_scan").queries.find(_.name == "nancumsum_cell").get.build(spark)
    val own = df.queryExecution.optimizedPlan
    assert(Sink.heavyExpressions(own).nonEmpty)
    assert(Sink.missing(own, executed(df.count())).nonEmpty)
  }
}
