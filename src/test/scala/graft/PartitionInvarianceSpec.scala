package graft

import org.scalatest.funsuite.AnyFunSuite

/** Results must not depend on the physical layout they were computed
  * under. Every query that plans through a `Materialize.sized` scope is
  * run at three session shuffle-partition counts; `sized` caps its
  * count at the session's, so 1 and 3 move every scope off the 4 it
  * picks at sf0.001, and the un-scoped stages around it move with them. */
class PartitionInvarianceSpec extends AnyFunSuite {
  import TestSpark._
  private val sf = "/root/testdata/sf0.001"
  private val partsKey = "spark.sql.shuffle.partitions"

  private val sizedQueries = Seq(
    "d06_dup_clusters", "d16_cluster_size_histogram", "d21_dup_pagerank",
    "d32_dup_clusters_star", "d07_curation_pipeline", "st04_valu_incremental",
    "st06_index_add_stream", "st07_stream_interval_join", "st08_watermark_drop",
    "st10_stream_outer_join", "st11_stream_neardup", "n19_graph_ann")

  for (name <- sizedQueries)
    test(s"$name: same rows at 4, 1 and 3 shuffle partitions") {
      val before = spark.conf.get(partsKey)
      def at(n: Int): Seq[Seq[Any]] = {
        spark.conf.set(partsKey, n.toString)
        rowsOf(SparkEntry.queries(name)(spark, sf))
      }
      try {
        val want = at(4)
        assert(want.nonEmpty, name)
        for (n <- Seq(1, 3)) assert(at(n) === want, s"$name at $n partitions")
      } finally spark.conf.set(partsKey, before)
    }
}
