package graft

import org.apache.spark.sql.Row
import graft.analytics.Graph
import graft.util.Lineage

/** The `reliable` checkpoint mode — what `auto` picks on a cluster —
  * cuts lineage through checkpoint files instead of stored blocks;
  * the iterative operators must return the same rows either way. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.graft.materialize"

  /** Run `body` under `spark.graft.materialize = mode`, restoring the
    * previous setting afterwards. */
  private def withMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key, mode)
    try body
    finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  /** kCore, bfsHops, labelPropagate, hits and pageRank over one small
    * graph: a triangle with a pendant chain, a second triangle and a
    * disjoint edge. */
  private def graphResults(): Seq[Seq[Row]] = {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (7L, 8L)).toDF("u", "v")
    val seeds = Seq((1L, "a"), (6L, "b")).toDF("u", "lbl")
    Seq(
      Graph.kCore(edges, "u", "v", k = 2),
      Graph.bfsHops(edges, "u", "v", seeds, "u", maxHops = 3),
      Graph.labelPropagate(edges, "u", "v", seeds, "lbl", iters = 3),
      Graph.hits(edges, "u", "v", iters = 3),
      Graph.pageRank(edges, "u", "v", iters = 5)
    ).map(_.collect().toSeq.sortBy(_.toString))
  }

  /** Checkpointed RDD directories under the session checkpoint dir. */
  private def checkpointFiles(): Int =
    spark.sparkContext.getCheckpointDir.map { d =>
      Option(new java.io.File(new java.net.URI(d).getPath).listFiles())
        .fold(0)(_.length)
    }.getOrElse(0)

  test("reliable checkpoints give the same graph results as the " +
      "default mode") {
    val default = graphResults()
    val (reliable, written) = withMode("reliable") {
      assert(!Lineage.useLocalCheckpoint(spark))
      val before = checkpointFiles()
      val got = graphResults()
      (got, checkpointFiles() - before)
    }
    assert(written > 0, "reliable mode wrote no checkpoint files")
    assert(default.forall(_.nonEmpty))
    assert(reliable === default)
  }

  test("an unknown mode fails with the accepted values") {
    val e = withMode("remote") {
      intercept[RuntimeException](Lineage.materialize(spark.range(3).toDF))
    }
    assert(e.getMessage.contains("auto|local|reliable"), e.getMessage)
  }
}
