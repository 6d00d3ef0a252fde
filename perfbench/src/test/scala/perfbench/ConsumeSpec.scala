package perfbench

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The timed action must compute every output column of every op: an
  * action that lets the optimizer prune columns times less work than a
  * user who reads the result pays for. */
class ConsumeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val root = Files.createTempDirectory("perfbench-spec").toString
  private lazy val corpus = {
    val dir = s"$root/sf0.1"
    val gen = new ProcessBuilder("python3", "-B", "gen.py", dir, "7", "store").inheritIO().start()
    assert(gen.waitFor() == 0, "gen.py failed")
    dir
  }
  private lazy val harness = new Harness("interactive_sf0.1", 7L, false, corpus, s"$root/work")

  private def missing(df: org.apache.spark.sql.DataFrame)(action: => Any): Seq[String] =
    Consume.missingColumns(df, Consume.lastExecution(harness.spark)(action))

  test("count() leaves q1's aggregates uncomputed; the timed action computes them") {
    val df = graft.SparkEntry.queries("q1_pricing_summary")(harness.spark, corpus)
    assert(missing(df)(df.count()).contains("sum_qty"))
    assert(missing(df)(Consume(df)).isEmpty)
  }

  test("every op's timed action computes its whole output") {
    val store = new Store(harness, corpus, s"$root/work/store", 7L)
    try {
      (harness.workloadOps(corpus) ++ store.ops).distinctBy(_.name).foreach { op =>
        op.build.foreach { build =>
          val df = build()
          assert(missing(df)(Consume(df)).isEmpty, op.name)
        }
      }
    } finally store.stop()
  }

  override def afterAll(): Unit = harness.stop()
}
