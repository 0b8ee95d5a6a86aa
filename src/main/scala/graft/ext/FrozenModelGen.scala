package graft.ext

/** Dev-time generator for [[FrozenModels]]: runs the REAL trainers
  * ([[Similarity.fitCellCentroids]], [[Similarity.fitPqCodebooks]]) once
  * over a testdata SF dir, quantizes the fitted centroids to integer
  * ten-thousandths, and prints them as Scala literals to paste into
  * FrozenModels.scala. Mirrors the q176 BPE pattern: training stays
  * iterative/engine-side, but the frozen artifact is pinned as data so
  * the APPLY half is oracle-checkable in any engine.
  *
  * Usage: runMain graft.ext.FrozenModelGen /root/testdata/sf0.01
  */
object FrozenModelGen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = graft.Harness.session()
    val emb = new graft.Tables(spark, sfDir).embeddings

    def q(x: Double): Long = math.floor(x * 10000d + 0.5d).toLong

    val cents = Similarity.fitCellCentroids(emb, nCells = 8, maxTrainRows = 2048)
    println("  val ivfCentroids: Array[Array[Long]] = Array(")
    cents.foreach { c =>
      println(c.map(q).mkString("    Array(", "L, ", "L),"))
    }
    println("  )")

    val cbs = Similarity.fitPqCodebooks(emb, subspaces = 8, codebookSize = 8,
      maxTrainRows = 2048)
    println("  val pqCodebooks: Array[Array[Array[Long]]] = Array(")
    cbs.foreach { book =>
      println("    Array(")
      book.foreach { c =>
        println(c.map(q).mkString("      Array(", "L, ", "L),"))
      }
      println("    ),")
    }
    println("  )")
    spark.stop()
  }
}
