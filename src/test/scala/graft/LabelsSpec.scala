package graft

import graft.llm.Dedup
import org.apache.spark.sql.DataFrame

/** [[Dedup.labels]] against an in-memory union-find on crafted pair sets,
  * plus its action budget: one materialization for the edge set and one
  * per round, no count() actions, nothing left persisted. */
class LabelsSpec extends SparkSpec with JobLog {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def pairsOf(edges: Seq[(Long, Long)]): DataFrame =
    edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("doc_a", "doc_b")

  /** id → min id of its component, over every pair endpoint. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Synchronous min-label rounds to the fixpoint, counting the final
    * round that changes nothing. */
  private def roundsToFixpoint(edges: Seq[(Long, Long)]): Int = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var lab = nbrs.keys.map(x => x -> x).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val next = lab.map { case (x, l) => x -> (l +: nbrs(x).map(lab)).min }
      changed = next != lab
      lab = next
    }
    rounds
  }

  private val star1 = (11L to 15L).map(10L -> _)
  private val star2 = (20L to 24L).map(25L -> _)
  private val clique = for (a <- 30L to 35L; b <- a + 1 to 35L) yield a -> b
  /** A 40-node path (diameter 39) with its min id at one end and the
    * other ids in random order, fed in shuffled row order: the min label
    * walks the whole diameter. */
  private val path = {
    val rnd = new scala.util.Random(7)
    val order = 100L +: rnd.shuffle((101L until 140L).toVector)
    rnd.shuffle(order.zip(order.tail))
  }

  private val cases = Seq(
    "empty" -> Seq.empty[(Long, Long)],
    "one pair" -> Seq(1L -> 2L),
    "two disjoint stars" -> (star1 ++ star2),
    "a clique" -> clique,
    "a 40-node path in shuffled order" -> path)

  cases.foreach { case (name, edges) =>
    test(s"labels equal union-find min ids: $name") {
      val got = Dedup.labels(pairsOf(edges)).as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, "one label per id")
      assert(got.toMap == unionFind(edges))
    }
  }

  test("an empty pair set runs nothing after its edge materialization") {
    assert(actionsOf(jobsOf(Dedup.labels(pairsOf(Seq.empty)))) == 1)
  }

  test("the path runs one materialization per round and no other action") {
    val rounds = roundsToFixpoint(path)
    assert(rounds == 40)
    assert(actionsOf(jobsOf(Dedup.labels(pairsOf(path)))) == 1 + rounds)
  }

  test("labels, clusters and keepSet leave nothing persisted") {
    val pairs = pairsOf(star1 ++ star2 ++ path)
    val corpus = (1L to 150L).toDF("doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.labels(pairs).collect()
    Dedup.clusters(pairs).collect()
    Dedup.keepSet(corpus, pairs).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
