package graft.llm

import scala.util.Random

import graft.SparkSpec

/** Property fuzz for the [[Dedup.clusters]] / [[Dedup.clustersStar]]
  * equivalence the round-20 production switch rides on: random
  * undirected pair graphs (self-loops, duplicate and reversed edges,
  * edges to nodes outside the doc universe, chains grafted onto
  * cliques) must produce IDENTICAL (doc_id, cluster_id) labelings from
  * both forms, and both must equal a naive in-memory union-find —
  * min reachable id per component, singletons self-clustered. */
class ClustersPropertySpec extends SparkSpec {
  import spark.implicits._

  private def naive(docs: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.foreach { case (a, b) => union(a, b) }
    // min id per component over every node that appears anywhere
    val nodes = (docs ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    docs.map(d => d -> minOf(find(d))).toMap
  }

  test("random pair graphs: star == propagation == union-find, every seed") {
    for (seed <- Seq(1, 7, 42, 1234, 99999)) {
      val rng = new Random(seed)
      val n = 5 + rng.nextInt(60)
      val docs = (0 until n).map(_ => rng.nextInt(500).toLong).distinct
      val nEdges = rng.nextInt(3 * n)
      val pairs = (0 until nEdges).map { _ =>
        // mostly edges within the universe; some to outside ids, some
        // self-loops and duplicates — the shapes real pair tables carry
        def pick(): Long =
          if (rng.nextInt(10) == 0) rng.nextInt(500).toLong
          else docs(rng.nextInt(docs.length))
        (pick(), pick())
      } ++ {
        // graft a chain onto the densest region so diameters are real
        val chain = (0 until math.min(12, docs.length))
          .map(i => docs(i % docs.length))
        chain.zip(chain.drop(1))
      }
      val docsDf = docs.toDF("doc_id")
      val pairsDf = pairs.toDF("doc_a", "doc_b")
      // both code paths of both forms: the default gate takes the r22
      // small-graph DRIVER path (these graphs are far under the edge
      // cap); smallGraphMaxEdges = 0 forces the distributed LOOPS, so
      // the loop implementations keep property coverage.
      val prop = Dedup.clusters(docsDf, pairsDf)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.clustersStar(docsDf, pairsDf)
        .as[(Long, Long)].collect().toMap
      val propLoop = Dedup.clusters(docsDf, pairsDf, smallGraphMaxEdges = 0)
        .as[(Long, Long)].collect().toMap
      val starLoop = Dedup.clustersStar(docsDf, pairsDf, smallGraphMaxEdges = 0)
        .as[(Long, Long)].collect().toMap
      val want = naive(docs, pairs)
      assert(star == prop, s"seed=$seed: star diverges from propagation")
      assert(propLoop == prop,
        s"seed=$seed: propagation loop diverges from driver path")
      assert(starLoop == star,
        s"seed=$seed: star loop diverges from driver path")
      assert(prop == want,
        s"seed=$seed: spark labeling diverges from union-find\n" +
          s"only-spark: ${(prop.toSet -- want.toSet).take(5)}\n" +
          s"only-naive: ${(want.toSet -- prop.toSet).take(5)}")
    }
  }

  test("long chains: driver path is exact, the loop converges or fails loudly") {
    // a path graph longer than the loop's default maxRounds (100): the
    // small-graph driver path has no round bound and labels one component
    val longDocs = (0L until 150L)
    val longPairs = longDocs.zip(longDocs.drop(1))
    val long = Dedup.clusters(longDocs.toDF("doc_id"), longPairs.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(long == naive(longDocs, longPairs))
    assert(long.values.toSet == Set(0L))

    // the distributed loop on a 12-node chain (diameter 11): a bound below
    // the diameter must throw, not return half-propagated labels
    val docs = (0L until 12L)
    val pairs = docs.zip(docs.drop(1))
    val docsDf = docs.toDF("doc_id")
    val pairsDf = pairs.toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusters(docsDf, pairsDf, maxRounds = 4, smallGraphMaxEdges = 0)
    }
    assert(e.getMessage.contains("did not converge in 4 rounds"))
    // a bound above the diameter converges to union-find's fixpoint
    val loop = Dedup.clusters(docsDf, pairsDf, maxRounds = 20, smallGraphMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(loop == naive(docs, pairs))
  }
}
