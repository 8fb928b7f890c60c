package graftbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `fixpoint`: one operation is one pass over the iterative queries of
  * [[Layers.FixpointQueries]] — the k-core and BFS loops of `Graph` and
  * the connected-components loop behind s12 — each collected to the
  * driver. The inputs are copies of the sf0.01 test tables (`lineitem`,
  * `embeddings`), pinned by digest; the seed does not change them. Every
  * pass's answer must have the digest pinned from the program at the
  * commit that introduced the benchmark, checked there in DuckDB against
  * `SparkEntry.oracleSql`; after the timed phase the last answers are
  * written out for the same DuckDB check (`perfbench/oracle.py`).
  */
final class Fixpoint(spark: SparkSession, tables: File, work: File) extends Workload {
  private val queries = Layers.FixpointQueries
  private var last: Seq[(String, Array[Row], StructType)] = Nil

  private def answer(q: String): (Array[Row], StructType) = {
    val df = graft.SparkEntry.queries(q)(spark, tables.getPath)
    (df.collect(), df.schema)
  }

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Digest of an answer as a multiset of rows. */
  private def digest(rows: Array[Row]): String =
    sha256(rows.map(_.toString).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))

  def setup(): Unit = {
    Fixpoint.Tables.foreach { case (t, want) =>
      val got = sha256(Files.readAllBytes(new File(tables, s"$t.parquet").toPath))
      require(got == want, s"$t.parquet has digest $got, expected $want")
    }
    (1 to Fixpoint.WarmupPasses).foreach(_ => queries.foreach(answer))
  }

  def label(i: Int): String = "pass"

  def run(i: Int, ctx: OpCtx): Check = {
    val sc = spark.sparkContext
    val got = queries.map { q =>
      sc.setJobDescription(q)
      val (rows, schema) = ctx.span("spark.action", q)(answer(q))
      (q, rows, schema)
    }
    last = got
    (corrupt: Boolean) => Some(got.map { case (q, rows, _) => (q, digest(rows)) }.collect {
      case (q, d) if d != Fixpoint.Answers(q) || corrupt =>
        s"$q digest $d, expected ${Fixpoint.Answers(q)}"
    }).filter(_.nonEmpty).map(_.mkString("; "))
  }

  /** The last pass's answers as parquet, each with its oracle SQL, for
    * `oracle.py`.
    */
  override def finish(): Unit = {
    val dir = new File(work, "oracle")
    dir.mkdirs()
    last.foreach { case (q, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(dir, q).getPath)
      val pw = new java.io.PrintWriter(new File(dir, s"$q.sql"), "UTF-8")
      try pw.print(graft.SparkEntry.oracleSql(q)) finally pw.close()
    }
  }

  def inputs: Map[String, Double] = Map(
    "lineitem_rows" -> 60000.0, "embeddings_rows" -> 500.0,
    "queries" -> queries.size.toDouble, "warmup_passes" -> Fixpoint.WarmupPasses.toDouble)

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = t.spans.asScala.toSeq.filter(_.op >= 0)
    val jobs = spans.filter(_.name == "spark.job")
    queries.flatMap { q =>
      val qs = spans.filter(s => s.name == "spark.action" && s.label == q)
      val qj = jobs.filter(j => qs.exists(s => j.start >= s.start && j.start < s.end))
      val wall = qs.map(s => s.end - s.start).sum
      val inJobs = qs.map(s => Tracer.covered(qj.map(j => (j.start, j.end)), s.start, s.end)).sum
      Seq(s"$q.wall_s" -> wall / 1e9 / ops, s"$q.jobs" -> qj.size.toDouble / ops,
        s"$q.outside_jobs_s" -> (wall - inJobs) / 1e9 / ops)
    }.toMap
  }
}

object Fixpoint {
  /** JIT compilation still takes 10–15 s of CPU in the second pass after
    * start-up and 4–5 s from the fifth on. A pass takes longer than the
    * benchmark's run time, so a run times one, after one pass of warm-up.
    */
  val WarmupPasses = 1

  /** SHA-256 of the input tables, copies of the sf0.01 test tables. */
  val Tables: Map[String, String] = Map(
    "lineitem" -> "4838c2d835f3035ec106897d3659af94bb76dd8245401f0e937f9a60fab282ee",
    "embeddings" -> "5bd2b0f09265a0662f08b1eae03a396df1c566e4d387e2ac7bd0b2d278df9cde")

  /** Digest of each query's answer on those tables (see `digest`). */
  val Answers: Map[String, String] = Map(
    "g4_kcore" -> "6ff6639826f080505c61d2899669de60ce12e99f1ba98bfdb0d94b3cb37c71de",
    "g7_bfs_hops" -> "21123e4be0818602499363ce3027e8b7373b8efdf7a490821ee4f2a1609f3d68",
    "s12_semantic_dedup" -> "a91075ef232fbc2a7d437d402d3a7a8e4d75c2cc08218268f1d0a1a1ae9d3e00")
}
