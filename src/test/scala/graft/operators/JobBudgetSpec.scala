package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Execution budgets for the fixpoint loops: a round of CC, kCore or BFS
  * costs exactly ONE SQL execution, its checkpoint, which also observes
  * the round's convergence count. Each loop runs on two paths whose round
  * counts are known; both runs must cost rounds + the same constant.
  * Executions are counted (`SparkListenerSQLExecutionStart`), not jobs,
  * so AQE's stage splitting cannot move the figures.
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** SQL executions the calling thread issues while `run` runs. */
  private def executions(run: => Unit): Int = {
    val tag = s"budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val counter = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobTags.contains(tag) =>
          n.incrementAndGet(): Unit
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    sc.addJobTag(tag)
    try run
    finally {
      sc.removeJobTag(tag)
      GraftTestBridge.drainListeners(sc)
      sc.removeSparkListener(counter)
    }
    n.get
  }

  /** The path 1 - 2 - … - n. */
  private def path(n: Long): DataFrame =
    (1L until n).map(i => (i, i + 1)).toDF("src", "dst")

  /** Asserts `cost(graph) == rounds + constant` for every (graph, rounds). */
  private def budget(constant: Int, runs: (DataFrame, Int)*)
      (op: DataFrame => DataFrame): Unit =
    runs.foreach { case (g, rounds) =>
      val got = executions(op(g))
      assert(got === rounds + constant,
        s"$rounds rounds cost $got SQL executions, budget ${rounds + constant}")
    }

  test("clusters: one SQL execution per min-label round, plus the labels seed") {
    // min-label moves one hop per round along a path of n ids: the last
    // id is labeled after n − 1 rounds, and round n changes nothing
    budget(1, path(3) -> 3, path(7) -> 7) { g =>
      Dedup.clusters(g.toDF("id_a", "id_b"))
    }
  }

  test("kCore: one SQL execution per peeling round, plus the edge and result checkpoints") {
    // a triangle with a pendant chain of t edges loses one chain edge per
    // 2-core round, then a round that removes nothing: t + 1 rounds
    def triangleWithTail(t: Long): DataFrame =
      (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
        (3L until 3L + t).map(i => (i, i + 1))).toDF("src", "dst")
    budget(2, triangleWithTail(1) -> 2, triangleWithTail(5) -> 6) { g =>
      Graph.kCore(g, k = 2)
    }
  }

  test("bfsHops: one SQL execution per frontier round, plus three set-up and result checkpoints") {
    // from node 1 of an n-path, rounds 1 … n − 1 each reach one new node
    // and round n finds the frontier empty
    budget(3, path(3) -> 3, path(8) -> 8) { g =>
      Graph.bfsHops(g, source = 1L, maxHops = 10)
    }
  }
}
