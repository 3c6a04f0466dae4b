package graft

import org.apache.spark.sql.functions._
import graft.api.toDf
import graft.operators.Dedup

/** Connected-components clustering over candidate-pair graphs. */
class ClusterSuite extends SparkSpec {

  test("connectedComponents labels every node with the min reachable id") {
    // three components: a 7-chain (forces several propagation rounds —
    // min-label needs O(diameter) iterations to cross it), a pair, and a
    // triangle with a redundant edge
    val pairs = toDf(spark)(
      "id_a" -> Seq(1, 2, 3, 4, 5, 6, 10, 20, 21, 20),
      "id_b" -> Seq(2, 3, 4, 5, 6, 7, 11, 21, 22, 22)).df
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(got == want)
  }

  test("path graph converges in O(log n) rounds via pointer jumping") {
    // 128-node path 0-1-2-...-127: pure min-label propagation needs ~127
    // rounds (O(diameter)); with label compression from round 3 the hop
    // distance doubles per round, so convergence must land well under 16.
    val n = 128
    val pairs = toDf(spark)(
      "id_a" -> (0 until n - 1),
      "id_b" -> (1 until n)).df
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b", maxIter = 64)
    val comps = labels.select("component").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(comps == Seq(0L), s"expected one component rooted at 0, got $comps")
    assert(labels.count() == n)
    assert(rounds <= 16, s"path-$n took $rounds rounds — compression not engaging")
  }

  test("non-convergence within maxIter fails loudly, naming rounds and changed labels") {
    // a 128-node path needs more than two rounds even with pointer
    // jumping: labels after two rounds are only an upper bound, so the
    // call must refuse to return them
    val n = 128
    val pairs = toDf(spark)(
      "id_a" -> (0 until n - 1),
      "id_b" -> (1 until n)).df
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b", maxIter = 2)
    }
    assert(e.getMessage.contains("not converged after 2 rounds"), e.getMessage)
    assert("""\(\d+ labels still changing\)""".r.findFirstIn(e.getMessage).isDefined,
      e.getMessage)
  }

  test("reliable-checkpoint branch (checkpoint dir set) yields identical labels") {
    // exercises the fault-tolerant truncation path: with a checkpoint dir
    // configured, rounds go through reliable checkpoint() instead of
    // localCheckpoint — labels must be identical either way
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite precondition: no ckpt dir")
    val pairs = toDf(spark)(
      "id_a" -> Seq(1, 2, 3, 4, 5, 6, 10, 20, 21, 20),
      "id_b" -> Seq(2, 3, 4, 5, 6, 7, 11, 21, 22, 22)).df
    val baseline = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == baseline)
      // the reliable branch really ran: round checkpoints hit the dir
      val wrote = scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.count() > 1)
      assert(wrote, s"no checkpoint files under $dir — reliable branch not taken")
    } finally {
      // SparkContext has no unset API; null restores the local default
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("clusterByMinhash with no near-dups at all: empty edge list, identity clusters") {
    // exercises connectedComponents on an EMPTY pair set end-to-end
    val docs = toDf(spark)(
      "doc_id" -> Seq(1, 2),
      "text" -> Seq(
        "completely different alpha beta gamma delta epsilon",
        "another unrelated sentence with many other words here")).df
    val out = Dedup.clusterByMinhash(docs, "text", "doc_id")
      .select("doc_id", "cluster_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 2L))
  }

  test("clusterByMinhash keeps singletons as their own cluster") {
    val docs = toDf(spark)(
      "doc_id" -> Seq(1, 2, 3),
      "text" -> Seq(
        "alpha beta gamma delta epsilon zeta eta",
        "alpha beta gamma delta epsilon zeta eta",
        "a completely different and unrelated sentence here")).df
    val out = Dedup.clusterByMinhash(docs, "text", "doc_id", minEstJaccard = 0.5)
      .select("doc_id", "cluster_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}
