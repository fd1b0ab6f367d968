package graft.operators

import graft.SparkSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based check of the distributed connected-components operator
  * against a driver-side union-find reference on random graphs. */
class ConnectedComponentsPropertySpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Force the distributed CC loop (gate 0) for a block — the adaptive
    * dispatch otherwise resolves every test-scale graph on the driver. */
  private def forcedDistributed[T](body: => T): T = {
    val key = "spark.graft.collectThreshold"
    spark.conf.set(key, "0")
    try body finally spark.conf.unset(key)
  }

  test("connectedComponents == union-find on random graphs (20 seeds)") {
    val edgeGen = for {
      n <- Gen.choose(2, 60)          // node id space
      m <- Gen.choose(1, 120)         // edge count
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) suchThat (_ != a)
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    (1 to 20).foreach { i =>
      val edges = edgeGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(Seq((0L, 1L)))
      // default path (driver union-find under the gate at this scale)
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // forced-distributed path must produce the identical labeling
      val gotDist = forcedDistributed {
        Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val want = unionFind(edges)
      assert(got === want, s"seed $i, edges $edges")
      assert(gotDist === want, s"distributed path, seed $i, edges $edges")
    }
  }

  test("starComponents == union-find on random graphs (10 seeds)") {
    val edgeGen = for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(1, 120)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) suchThat (_ != a)
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    (1 to 10).foreach { i =>
      val edges = edgeGen(Gen.Parameters.default, Seed(100L + i))
        .getOrElse(Seq((0L, 1L)))
      val got = Dedup.starComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDist = forcedDistributed {
        Dedup.starComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(got === unionFind(edges), s"seed $i, edges $edges")
      assert(gotDist === unionFind(edges),
        s"distributed path, seed $i, edges $edges")
    }
  }

  test("starComponents: 96-node chain converges (min-label would need 96 rounds)") {
    // forced distributed: the chain exists to exercise the large-star/
    // small-star convergence, which the driver gate would bypass
    val chain = (0L until 96L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = forcedDistributed {
      Dedup.starComponents(chain.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got.size === 96)
    assert(got.values.forall(_ == 0L))
  }

  test("starComponents == connectedComponents on the real jaccard edge set") {
    val edges = Dedup.ngramJaccard(spark, "/root/testdata/sf0.001")
      .select("id_a", "id_b")
    val a = Dedup.starComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // and the forced-distributed forms agree on the real edge set too
    val (aDist, bDist) = forcedDistributed {
      (Dedup.starComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        Dedup.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    assert(a === b)
    assert(aDist === a)
    assert(bDist === b)
  }
}
