package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge inputs for the fixpoint loops, whose convergence counts and
  * broadcast gates are observed by their checkpoint jobs: an empty edge
  * list (no task runs) and a single edge.
  */
class EdgeInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private val none = Seq.empty[(Long, Long)].toDF("src", "dst")
  private val one = Seq((1L, 2L)).toDF("src", "dst")

  test("empty edges: empty core and clusters; BFS keeps only its source") {
    assert(rows(Graph.kCore(none, k = 2)) === Seq())
    assert(rows(Graph.bfsHops(none, source = 1L)) === Seq((1L, 0L)))
    assert(rows(Dedup.clusters(none.toDF("id_a", "id_b"))) === Seq())
  }

  test("a single edge: both ends in the 1-core, one hop apart, one cluster") {
    assert(rows(Graph.kCore(one, k = 1)) === Seq((1L, 1L), (2L, 1L)))
    assert(rows(Graph.bfsHops(one, source = 1L)) === Seq((1L, 0L), (2L, 1L)))
    assert(rows(Dedup.clusters(one.toDF("id_a", "id_b"))) ===
      Seq((1L, 1L), (2L, 1L)))
  }

  test("ssspRounds still rejects negative weights and keeps the source on empty edges") {
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    assert(intercept[IllegalArgumentException](Graph.ssspRounds(neg, 1L, 2))
      .getMessage.contains("negative edge weights"))
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(rows(Graph.ssspRounds(empty, 1L, 2)) === Seq((1L, 0L)))
  }

  test("checkpointObserved: an aggregate over no rows is null, and getLong says so") {
    val (cp, seed) = Dedup.checkpointObserved(none,
      least(min(col("src")), min(col("dst"))), count(lit(1)))
    assert(cp.count() === 0L)
    assert(seed.isNullAt(0) && seed.getLong(1) === 0L)
    assert(intercept[RuntimeException](seed.getLong(0))
      .getMessage.contains("NULL"))
  }
}
