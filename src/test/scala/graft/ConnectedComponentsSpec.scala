package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.operators.ConnectedComponents

/** Connected components vs an in-memory union-find reference. */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("chains, stars, and separate components resolve to min id (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), // chain -> comp 1
      (10L, 11L), (10L, 12L), (10L, 13L),         // star  -> comp 10
      (20L, 21L))                                 // pair  -> comp 20
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    // default threshold -> driver union-find path
    assert(ConnectedComponents.components(pairs)
      .as[(Long, Long)].collect().toMap == want)
    // threshold 0 -> distributed min-label fixpoint
    assert(ConnectedComponents.components(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap == want)
    // no pairs: both paths return the empty (id, comp) frame
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(ConnectedComponents.components(none).as[(Long, Long)].collect().isEmpty)
    assert(ConnectedComponents.components(none, driverThreshold = 0L)
      .as[(Long, Long)].collect().isEmpty)
  }

  test("long path converges within the round budget (pointer jumping, distributed path)") {
    val n = 60
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = ConnectedComponents.components(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == n.toInt + 1)
    assert(got.forall(_._2 == 0L), got.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("driver and distributed paths match union-find on arbitrary graphs (property)") {
    // pairs in either orientation with self-loops, then some pairs again
    // reversed and some repeated as given
    val pairGen = for {
      ps <- Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L)))
      flipped <- Gen.someOf(ps)
      repeated <- Gen.someOf(ps)
    } yield ps ++ flipped.map(_.swap) ++ repeated
    // the driver path's labels are a local relation
    def viaDriver(labels: org.apache.spark.sql.DataFrame) = labels.queryExecution.analyzed
      .collectLeaves().forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    ScalaCheckSupport.checkProp(Prop.forAll(pairGen) { ps =>
      ps.isEmpty || {
        val df = ps.toDF("id_a", "id_b")
        val want = reference(ps)
        // the driver path runs while 2 × the pair rows is below the threshold
        val atBound = ConnectedComponents.components(df, driverThreshold = 2L * ps.size)
        val aboveBound = ConnectedComponents.components(df, driverThreshold = 2L * ps.size + 1)
        !viaDriver(atBound) && viaDriver(aboveBound) &&
          atBound.as[(Long, Long)].collect().toMap == want &&
          aboveBound.as[(Long, Long)].collect().toMap == want &&
          ConnectedComponents.components(df).as[(Long, Long)].collect().toMap == want &&
          ConnectedComponents.components(df, driverThreshold = 0L)
            .as[(Long, Long)].collect().toMap == want
      }
    }, minSuccessful = 8)
  }

  test("incrementalComponents: folding batches ≡ full recompute (merge, bridge, new nodes, no-op)") {
    // batch 1: two separate components {1,2,3} and {10,11}
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val l1 = ConnectedComponents.components(b1)
    // batch 2: bridge the two components (3-10), extend with a brand-new
    // node (11-20), a fully-new component (30-31), and a redundant
    // intra-component edge (1-3, must change nothing)
    val b2 = Seq((3L, 10L), (11L, 20L), (30L, 31L), (1L, 3L)).toDF("id_a", "id_b")
    val inc = ConnectedComponents.incrementalComponents(l1, b2)
      .as[(Long, Long)].collect().toMap
    val full = ConnectedComponents.components(
        b1.unionByName(b2)).as[(Long, Long)].collect().toMap
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc(20L) == 1L && inc(10L) == 1L && inc(30L) == 30L)
    // a second fold on top of the first (inductive chain)
    val b3 = Seq((31L, 1L)).toDF("id_a", "id_b") // merge everything but nothing else
    val inc2 = ConnectedComponents.incrementalComponents(
        ConnectedComponents.incrementalComponents(l1, b2), b3)
      .as[(Long, Long)].collect().toMap
    val full2 = ConnectedComponents.components(b1.unionByName(b2).unionByName(b3))
      .as[(Long, Long)].collect().toMap
    assert(inc2 == full2, s"inc2=$inc2 full2=$full2")
    // empty delta is the identity
    val idless = ConnectedComponents.incrementalComponents(l1,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
    assert(idless == l1.as[(Long, Long)].collect().toMap)
    // null endpoints in the delta follow components()'s drop rule:
    // fold ≡ full recompute on malformed input too (no (null,null)
    // rows, no phantom singleton for the non-null partner)
    val bNull = Seq((Some(3L), Some(10L)), (None, Some(99L)), (Some(98L), None))
      .toDF("id_a", "id_b")
    val incNull = ConnectedComponents.incrementalComponents(l1, bNull)
      .as[(Long, Long)].collect().toMap
    val fullNull = ConnectedComponents.components(
        b1.select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
          .unionByName(bNull.select(col("id_a"), col("id_b"))))
      .as[(Long, Long)].collect().toMap
    assert(incNull == fullNull, s"incNull=$incNull fullNull=$fullNull")
    assert(!incNull.contains(99L) && !incNull.contains(98L))
  }

  test("incrementalComponents ≡ full recompute on random batch splits (property)") {
    val pairGen = Gen.listOfN(40, for {
      a <- Gen.chooseNum(0L, 25L); b <- Gen.chooseNum(0L, 25L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    ScalaCheckSupport.checkProp(Prop.forAll(pairGen, Gen.chooseNum(1, 39)) { (ps, cut) =>
      ps.size < 2 || {
        val k = math.min(cut, ps.size - 1)
        val (h1, h2) = ps.splitAt(k)
        val inc = ConnectedComponents.incrementalComponents(
            ConnectedComponents.components(h1.toDF("id_a", "id_b")),
            h2.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        inc == reference(ps)
      }
    }, minSuccessful = 6)
  }
}
