package graft

import graft.ops.{Closure, Sampling}
import org.apache.spark.sql.functions._

class ClosureSamplingSpec extends SparkSpec {
  import spark.implicits._

  test("parent closure resolves multi-level chains to roots") {
    // chain 1<-2<-3<-4<-5, root 10 (self), dangling parent 99 for 20
    val edges = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
      (10L, 10L), (20L, 99L)).toDF("id", "parent")
    val got = Closure.resolveRoots(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 20L -> 99L), "dangling parent resolves to the absent value (self-fallback)")
  }

  test("null parent falls back to self (core.rs:162-168)") {
    val edges = Seq((1L, Some(1L)), (2L, None), (3L, Some(2L)))
      .toDF("id", "parent")
    val got = Closure.resolveRoots(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("driver closure == distributed rounds: dangling parents, self-loops, cycles, a chain past 2^10") {
    // dense ids 0 until n; None is a null parent, which the driver array
    // encodes as the node itself
    def forest(seed: Int, n: Int, chain: Int): Array[Option[Long]] = {
      val r = new scala.util.Random(seed)
      val p = Array.tabulate[Option[Long]](n) { i =>
        r.nextInt(10) match {
          case 0 => None
          case 1 => Some(i.toLong) // self-loop: a root
          case 2 => Some(n + r.nextInt(50).toLong) // dangling
          case 3 => Some(-1L - r.nextInt(5)) // dangling below the id range
          case _ => if (i == 0) None else Some(r.nextInt(i).toLong) // tree edge
        }
      }
      for (_ <- 0 until n / 20) { // 2-cycles
        val a = r.nextInt(n); val b = r.nextInt(n)
        p(a) = Some(b.toLong); p(b) = Some(a.toLong)
      }
      p ++ (0 until chain).map(k => Some(if (k == 0) n.toLong else (n + k - 1).toLong))
    }
    for ((seed, chain) <- Seq((1, 0), (2, 0), (3, 1100))) {
      val p = forest(seed, 400, chain)
      val edges = p.zipWithIndex.map { case (par, i) => (i.toLong, par) }.toSeq.toDF("id", "parent")
      val want = Closure.resolveRoots(edges).as[(Long, Long)].collect().toMap
      val dense = Closure.resolveRootsDense(p.zipWithIndex.map { case (par, i) => par.getOrElse(i.toLong) })
      val got = dense.zipWithIndex.map { case (root, i) => i.toLong -> root }.toMap
      assert(got == want, s"seed $seed: ${(got.toSet diff want.toSet).take(5)}")
      if (chain > 0)
        assert(dense.last != 400L, "10 rounds of doubling stop short of a 1100-deep root")
    }
  }

  test("stratified sample keeps ceil(ratio*n) per stratum, deterministic") {
    val df = (0 until 100).map(i => (s"s${i % 3}", i.toLong)).toDF("entity", "group_id")
    val s1 = Sampling.stratifiedGroupSample(df, "entity", "group_id", 0.1)
      .as[(String, Long)].collect().toSet
    val s2 = Sampling.stratifiedGroupSample(df.repartition(7), "entity", "group_id", 0.1)
      .as[(String, Long)].collect().toSet
    assert(s1 == s2, "deterministic across partitionings")
    val perStratum = s1.groupBy(_._1).map { case (k, v) => k -> v.size }
    // strata sizes: s0=34, s1=33, s2=33 -> ceil(0.1*n) = 4, 4, 4
    assert(perStratum == Map("s0" -> 4, "s1" -> 4, "s2" -> 4))
  }

  test("resolveRootsReleasable: correct roots, and release() leaves no cached data behind") {
    // depth-3 chains + a self-root + a dangling parent
    val edges = (Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 2L), (4L, 99L)) ++
      (10L until 40L).map(i => (i, i - 10)))
      .toDF("id", "parent")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (roots, release) = Closure.resolveRootsReleasable(edges)
    val m = roots.as[(Long, Long)].collect().toMap
    assert(m(3L) == 0L && m(2L) == 0L && m(0L) == 0L)
    assert(m(4L) == 99L, "dangling parent resolves to the pointer itself")
    assert(m(30L) == 0L || m(30L) == 10L % 10, "chain resolves to its head")
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the closure rounds should have materialized caches")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.intersect(during)
    assert(leaked.isEmpty,
      s"closure rounds must not leave cached RDDs after release(): $leaked")
  }
}
